"""Corpus-curation analytics: boilerplate, dedup funnels, token budgeting.

The corpus-level companions to the per-pair dedup operators in `dedup.py`
and the per-doc scoring in `pipeline.py`: boilerplate n-gram extraction,
the tiered dedup cascade a curation pipeline reports before/after, the
min-length filter audit, top-K vocabulary coverage, deterministic epoch
sharding, and a Zipf rank-frequency check.  No counterpart in the
reference (a table generator, `Main.java`); these are the SURVEY.md §2.8
training-data-pipeline mandates at corpus granularity.

Engine-exactness per repo policy: every count is an integer, every ratio
is integer micro-units via one `div`, cross-row double accumulation goes
through the DECIMAL helpers, and content keys use the 60-bit md5 prefix
(`md5_60` / `md5_60_sql`, verified bit-identical across engines).

Scale posture: shingle/vocab relations shuffle on content keys (uniform
by construction — hashed text), rollups land on bounded domains (top-50,
cutoff lists, shards, deciles).  Rank-based statistics that are
tie-invariant (coverage) run over the COUNT DISTRIBUTION (|distinct
count values| rows — ≈√(2·total) under Zipf) instead of ranking the
vocabulary; the one remaining vocab-rank window (`text_zipf_check`)
sorts the AGGREGATED vocabulary (|vocab| rows, not |tokens|), the same
accepted tier as `pareto_revenue_concentration`'s global cumsum.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.window import Window

from iceberg_table_generator_spark.functions.order import with_global_order
from iceberg_table_generator_spark.functions.cache import persist_tracked
from iceberg_table_generator_spark.functions.text import md5_60, md5_60_sql
from iceberg_table_generator_spark.operators.relational import davg, sql_davg
from iceberg_table_generator_spark.registry import query
from iceberg_table_generator_spark.sources.tables import load_table

# --------------------------------------------------------------------------
# Boilerplate n-gram extraction
# --------------------------------------------------------------------------
BOILERPLATE_N = 5
BOILERPLATE_MIN_DOCS = 2
BOILERPLATE_TOP_K = 50

_BOILERPLATE_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (
  SELECT doc_id, array_to_string(t[i:i+{BOILERPLATE_N - 1}], ' ') AS gram
  FROM toks, unnest(generate_series(1, len(t) - {BOILERPLATE_N - 1})) AS s(i)),
agg AS (
  SELECT gram,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         CAST(count(*) AS BIGINT) AS n_occurrences
  FROM sh GROUP BY gram
  HAVING count(DISTINCT doc_id) >= {BOILERPLATE_MIN_DOCS})
SELECT gram, n_docs, n_occurrences
FROM agg
ORDER BY n_docs DESC, n_occurrences DESC, gram
LIMIT {BOILERPLATE_TOP_K}
"""


@query("text_boilerplate_ngrams", oracle=_BOILERPLATE_ORACLE)
def text_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top boilerplate candidates: 5-word shingles shared by the most
    distinct documents — the headers/footers/disclaimers a curation
    pipeline strips before dedup (repeated boilerplate inflates every
    similarity metric downstream).

    Distinct from the `dedup_ngram_*` family: those emit document PAIRS
    from 3-shingle overlap; this extracts the repeated CONTENT itself.
    Scale: the shingle relation is O(total tokens) and shuffles on the
    gram text (uniform — hashed content key); grams below the
    min-docs support are discarded in the same aggregate (map-side
    combinable count-distinct via partial sets), and the final top-50 is
    a TakeOrderedAndProject, never a full sort."""
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("t")
    )
    sh = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(t) - {BOILERPLATE_N - 1}),"
                f" i -> array_join(slice(t, i, {BOILERPLATE_N}), ' '))"
            )
        ).alias("gram"),
    )
    agg = (
        sh.groupBy("gram")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= BOILERPLATE_MIN_DOCS)
    )
    return agg.orderBy(
        F.desc("n_docs"), F.desc("n_occurrences"), F.asc("gram")
    ).limit(BOILERPLATE_TOP_K)


# --------------------------------------------------------------------------
# Tiered dedup cascade report
# --------------------------------------------------------------------------
_CASCADE_ORACLE = f"""
WITH k AS (
  SELECT {md5_60_sql('text')} AS exact_key,
         {md5_60_sql("array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')")}
           AS bow_key,
         {md5_60_sql("array_to_string(string_split(text, ' ')[1:8], ' ')")}
           AS prefix_key
  FROM documents),
c AS (
  SELECT CAST(count(*) AS BIGINT) AS n_raw,
         CAST(count(DISTINCT exact_key) AS BIGINT) AS n_exact,
         CAST(count(DISTINCT bow_key) AS BIGINT) AS n_bow,
         CAST(count(DISTINCT prefix_key) AS BIGINT) AS n_prefix8
  FROM k)
SELECT n_raw, n_exact, n_bow, n_prefix8,
       CAST((n_exact * 1000000) // n_raw AS BIGINT) AS exact_keep_micro,
       CAST((n_bow * 1000000) // n_raw AS BIGINT) AS bow_keep_micro,
       CAST((n_prefix8 * 1000000) // n_raw AS BIGINT) AS prefix8_keep_micro
FROM c
"""


@query("pipeline_dedup_cascade", oracle=_CASCADE_ORACLE)
def pipeline_dedup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The before/after funnel a dedup pipeline reports: how many
    documents survive each successively-looser identity — byte-exact,
    bag-of-words (word order ignored), and first-8-token prefix.  One
    row of counts plus keep-rates in integer micro-units.

    Each tier is a 60-bit content digest (`md5_60`), so the
    count-distincts shuffle 8-byte keys, never text — the same posture
    as `dedup_exact`.  All three digests are computed in the same scan
    pass; a single aggregate with partial count-distinct sets.  At 100 TB
    this is one full-scan, three-digest pass — the cheapest honest answer
    to "how much duplication do we have?" before committing to the
    pairwise tiers."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.split("text", " ")
    k = docs.select(
        md5_60(F.col("text")).alias("exact_key"),
        md5_60(
            F.array_join(F.array_sort(F.array_distinct(t)), " ")
        ).alias("bow_key"),
        md5_60(F.array_join(F.slice(t, 1, 8), " ")).alias("prefix_key"),
    )
    c = k.agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.countDistinct("exact_key").alias("n_exact"),
        F.countDistinct("bow_key").alias("n_bow"),
        F.countDistinct("prefix_key").alias("n_prefix8"),
    )
    return c.select(
        "n_raw",
        "n_exact",
        "n_bow",
        "n_prefix8",
        F.expr("(n_exact * 1000000) div n_raw").alias("exact_keep_micro"),
        F.expr("(n_bow * 1000000) div n_raw").alias("bow_keep_micro"),
        F.expr("(n_prefix8 * 1000000) div n_raw").alias("prefix8_keep_micro"),
    )


# --------------------------------------------------------------------------
# Minimum-length filter audit
# --------------------------------------------------------------------------
LENGTH_CUTOFFS = (16, 32, 64, 96)

_LENGTH_AUDIT_ORACLE = f"""
WITH d AS (
  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens
  FROM documents),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(ws_tokens) AS BIGINT) AS n_tokens
  FROM d),
cut AS (SELECT unnest([{', '.join(str(c) for c in LENGTH_CUTOFFS)}]) AS cutoff),
kept AS (
  SELECT c.cutoff,
         CAST(count(*) FILTER (d.ws_tokens >= c.cutoff) AS BIGINT) AS docs_kept,
         CAST(coalesce(sum(d.ws_tokens) FILTER (d.ws_tokens >= c.cutoff), 0)
              AS BIGINT) AS tokens_kept
  FROM cut c CROSS JOIN d GROUP BY c.cutoff)
SELECT k.cutoff AS cutoff, k.docs_kept, k.tokens_kept,
       CAST((k.docs_kept * 1000000) // t.n_docs AS BIGINT) AS docs_keep_micro,
       CAST((k.tokens_kept * 1000000) // t.n_tokens AS BIGINT) AS tokens_keep_micro
FROM kept k CROSS JOIN tot t
"""


@query("pipeline_length_filter_audit", oracle=_LENGTH_AUDIT_ORACLE)
def pipeline_length_filter_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What a minimum-token-length filter would discard, at each of four
    candidate cutoffs — the knob-tuning table consulted before fixing a
    length threshold (too low keeps fragments, too high throws away real
    short documents and their token budget).

    Tokenization is the repo's whitespace rule (`text_token_count`).
    The cutoff list is a 4-row literal relation broadcast against the
    per-doc token counts, aggregated with conditional sums — one scan,
    one small shuffle keyed by cutoff; totals join back as a broadcast
    scalar.  All ratios are integer micro-units."""
    d = load_table(spark, sf_dir, "documents").select(
        F.size(F.split("text", " ")).cast("long").alias("ws_tokens")
    )
    # Built over range(1) (not createDataFrame) so the plan shows the
    # literal Range source the broadcast-invariant suite recognizes.
    cut = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(c) for c in LENGTH_CUTOFFS])
        ).alias("cutoff")
    )
    kept = (
        d.crossJoin(F.broadcast(cut))
        .groupBy("cutoff")
        .agg(
            F.count(F.when(F.col("ws_tokens") >= F.col("cutoff"), 1)).alias(
                "docs_kept"
            ),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("ws_tokens") >= F.col("cutoff"),
                        F.col("ws_tokens"),
                    )
                ),
                F.lit(0),
            ).alias("tokens_kept"),
        )
    )
    tot = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ws_tokens").alias("n_tokens"),
    )
    return kept.crossJoin(F.broadcast(tot)).select(
        "cutoff",
        "docs_kept",
        "tokens_kept",
        F.expr("(docs_kept * 1000000) div n_docs").alias("docs_keep_micro"),
        F.expr("(tokens_kept * 1000000) div n_tokens").alias(
            "tokens_keep_micro"
        ),
    )


# --------------------------------------------------------------------------
# Top-K vocabulary coverage
# --------------------------------------------------------------------------
COVERAGE_KS = (5, 15, 30, 1000)

_COVERAGE_ORACLE = f"""
WITH w AS (
  SELECT unnest(string_split(text, ' ')) AS word FROM documents),
vocab AS (
  SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM w GROUP BY word),
ranked AS (
  SELECT cnt,
         CAST(row_number() OVER (ORDER BY cnt DESC, word) AS BIGINT) AS rk
  FROM vocab),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_tokens FROM ranked),
ks AS (SELECT unnest([{', '.join(str(k) for k in COVERAGE_KS)}]) AS k),
cov AS (
  SELECT ks.k,
         CAST(count(*) AS BIGINT) AS n_vocab_used,
         CAST(sum(r.cnt) AS BIGINT) AS covered_tokens
  FROM ks JOIN ranked r ON r.rk <= ks.k GROUP BY ks.k)
SELECT c.k AS k, c.n_vocab_used, c.covered_tokens,
       CAST((c.covered_tokens * 1000000) // t.n_tokens AS BIGINT)
         AS coverage_micro
FROM cov c CROSS JOIN tot t
"""


@query("text_ngram_coverage", oracle=_COVERAGE_ORACLE)
def text_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token coverage of the top-K vocabulary — the "how big must the
    vocab be to cover X% of the stream?" curve that sizes tokenizer
    vocabularies and OOV policies (companion to `text_oov_rate`, which
    fixes the vocab and scores documents; this sweeps K).

    The token explode shuffles once onto word keys (skew bounded by the
    heavy-hitter word, same posture as `text_word_freq`).  Top-K
    coverage is TIE-INVARIANT (words sharing a count contribute equally
    whichever of them make the cut), so the Spark side never ranks the
    vocabulary: it aggregates the COUNT DISTRIBUTION — m words per
    distinct count — and takes clamp(K − cum_above, 0, m) words from
    each block in descending-count order.  The only window runs over the
    |distinct count values| relation (≈√(2·total) under Zipf —
    thousands of rows for a billion-term vocab), not the |vocab| rows a
    row_number() formulation would single-partition; the oracle keeps
    the literal rank formulation and lands on identical coverage.
    K-cutoffs are a 4-row literal broadcast; coverage is an integer
    micro-unit ratio."""
    w = load_table(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("word")
    )
    vocab = w.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    # Persist the distribution: blocks and the scalar total both consume
    # it — one token explode, not two.
    dist = (
        vocab.groupBy("cnt")
        .agg(F.count(F.lit(1)).cast("long").alias("m"))
        .transform(persist_tracked)
    )
    wcum = Window.orderBy(F.desc("cnt")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    blocks = dist.select(
        "cnt", "m", (F.sum("m").over(wcum) - F.col("m")).alias("c_above")
    )
    tot = dist.agg(F.sum(F.col("cnt") * F.col("m")).alias("n_tokens"))
    # Literal Range source (see pipeline_length_filter_audit).
    ks = spark.range(1).select(
        F.explode(F.array(*[F.lit(k) for k in COVERAGE_KS])).alias("k")
    )
    cov = (
        blocks.crossJoin(F.broadcast(ks))
        .select(
            "k",
            "cnt",
            F.greatest(
                F.lit(0),
                F.least(F.col("m"), F.col("k") - F.col("c_above")),
            ).alias("t"),
        )
        .filter(F.col("t") > 0)
        .groupBy("k")
        .agg(
            F.sum("t").alias("n_vocab_used"),
            F.sum(F.col("t") * F.col("cnt")).alias("covered_tokens"),
        )
    )
    return cov.crossJoin(F.broadcast(tot)).select(
        "k",
        "n_vocab_used",
        "covered_tokens",
        F.expr("(covered_tokens * 1000000) div n_tokens").alias(
            "coverage_micro"
        ),
    )


# --------------------------------------------------------------------------
# Deterministic epoch sharding
# --------------------------------------------------------------------------
N_SHARDS = 8
EPOCH_SEED = 1

_EPOCH_ORACLE = f"""
WITH k AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
         {md5_60_sql(f"(CAST(doc_id AS VARCHAR) || ':{EPOCH_SEED}')")} AS key
  FROM documents)
SELECT CAST(key % {N_SHARDS} AS BIGINT) AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(ws_tokens) AS BIGINT) AS shard_tokens,
       CAST(min(key) AS BIGINT) AS min_key,
       CAST(max(key) AS BIGINT) AS max_key,
       CAST(arg_min(doc_id, key) AS BIGINT) AS first_doc_id
FROM k GROUP BY key % {N_SHARDS}
"""


@query("pipeline_epoch_shuffle", oracle=_EPOCH_ORACLE)
def pipeline_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-epoch shard assignment: every document maps
    to a shard by a seeded 60-bit content-independent hash (md5 of
    doc_id:seed), so epoch N's global shuffle order is reproducible from
    the seed alone — the property a resumable data loader needs (restart
    mid-epoch, skip to position, same order on any cluster size).

    Per-shard stats report balance (docs/tokens per shard) plus the
    first document in hash order (`min_by` — the loader's resume
    cursor).  One scan, one shuffle onto N_SHARDS keys with map-side
    combine; the md5 key is uniform by construction so shards balance
    at any scale.  All outputs integer-exact."""
    docs = load_table(spark, sf_dir, "documents")
    k = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("ws_tokens"),
        md5_60(
            F.concat(F.col("doc_id").cast("string"), F.lit(f":{EPOCH_SEED}"))
        ).alias("key"),
    )
    return k.groupBy((F.col("key") % N_SHARDS).alias("shard")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ws_tokens").alias("shard_tokens"),
        F.min("key").alias("min_key"),
        F.max("key").alias("max_key"),
        F.min_by("doc_id", "key").alias("first_doc_id"),
    )


# --------------------------------------------------------------------------
# Zipf rank-frequency check
# --------------------------------------------------------------------------
_ZIPF_ORACLE = f"""
WITH w AS (
  SELECT unnest(string_split(text, ' ')) AS word FROM documents),
vocab AS (
  SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM w GROUP BY word),
ranked AS (
  SELECT cnt,
         CAST(row_number() OVER (ORDER BY cnt DESC, word) AS BIGINT) AS rk
  FROM vocab),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_vocab FROM ranked)
SELECT CAST(((r.rk - 1) * 10) // n.n_vocab AS BIGINT) AS decile,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(min(r.cnt) AS BIGINT) AS min_cnt,
       CAST(max(r.cnt) AS BIGINT) AS max_cnt,
       {sql_davg('r.rk * r.cnt', 6)} AS avg_rank_freq
FROM ranked r CROSS JOIN n GROUP BY ((r.rk - 1) * 10) // n.n_vocab
"""


@query("text_zipf_check", oracle=_ZIPF_ORACLE)
def text_zipf_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law diagnostic: under rank × frequency ≈ constant, the
    mean rank·frequency product should be flat across vocabulary rank
    deciles — a sharply rising or falling profile flags an unnatural
    token distribution (templated/synthetic text, boilerplate floods),
    which is exactly what a corpus-quality gate wants to catch without
    any transcendental math (the log-log regression slope needs ln();
    the decile product profile is engine-exact integers + one DECIMAL
    mean).

    Same vocab aggregate as `text_ngram_coverage`; the rank here DOES
    totally order the aggregated vocabulary (decile boundaries split
    tie-blocks, so the distribution shortcut coverage uses does not
    apply verbatim) — since r8 it is the two-phase distributed global
    order (`functions/order.py::with_global_order`), so the vocabulary
    (Heaps-law sub-linear, but still huge at 100 TB) never lands on one
    executor.  The decile key is integer division so binning is exact,
    and the output is ≤10 rows."""
    w = load_table(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("word")
    )
    vocab = w.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    # Persist the ranked vocab: the scalar n_vocab and the decile fold
    # both consume it — one token explode + one rank pass, not two.
    ranked = with_global_order(
        vocab, [("cnt", False), ("word", True)], pos="rk"
    ).select("cnt", "rk").transform(persist_tracked)
    n = ranked.agg(F.count(F.lit(1)).alias("n_vocab"))
    return (
        ranked.crossJoin(F.broadcast(n))
        .groupBy(F.expr("((rk - 1) * 10) div n_vocab").alias("decile"))
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.min("cnt").alias("min_cnt"),
            F.max("cnt").alias("max_cnt"),
            davg(F.col("rk") * F.col("cnt"), 6).alias("avg_rank_freq"),
        )
    )


# --------------------------------------------------------------------------
# Inter-rater agreement between two heuristic quality gates
# --------------------------------------------------------------------------
KAPPA_MIN_TOKENS = 48
KAPPA_MIN_CHARS = 256

_KAPPA_ORACLE = f"""
WITH lab AS (
  SELECT CASE WHEN len(string_split(text, ' ')) >= {KAPPA_MIN_TOKENS}
              THEN 1 ELSE 0 END AS a,
         CASE WHEN n_chars >= {KAPPA_MIN_CHARS} THEN 1 ELSE 0 END AS b
  FROM documents),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         CAST(sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         CAST(sum(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
  FROM lab)
SELECT n, tp, fp, fn, tn,
       CAST(((tp + tn) * 1000000) // n AS BIGINT) AS agree_micro,
       CAST(((n * (tp + tn) - ((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn)))
             * 1000000)
            // (n * n - ((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn)))
         AS BIGINT) AS kappa_micro
FROM m
"""


@query("stats_cohens_kappa", oracle=_KAPPA_ORACLE)
def stats_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two independent document-quality gates (a
    token-length rule and a char-length rule) — the chance-corrected
    agreement metric an annotation pipeline reports before trusting a
    cheap label as a proxy for an expensive one.  Raw agreement and
    kappa both land in integer micro-units: kappa's numerator and
    denominator are cleared of fractions (×n²) so the whole statistic is
    one integer `div` — bit-exact on both engines, no floats anywhere.

    One scan, one scalar aggregate (map-side combinable), one-row
    output; the contingency cells ride along for auditability.  At
    1e12 docs the ×1e6×n² intermediate products stay under 2^63 only
    for n ≲ 3e6 — beyond that the same report runs per-shard; the
    micro-unit output scale saturates far earlier anyway."""
    lab = load_table(spark, sf_dir, "documents").select(
        F.when(F.size(F.split("text", " ")) >= KAPPA_MIN_TOKENS, 1)
        .otherwise(0)
        .alias("a"),
        F.when(F.col("n_chars") >= KAPPA_MIN_CHARS, 1).otherwise(0).alias("b"),
    )
    m = lab.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when((F.col("a") == 1) & (F.col("b") == 1), 1).otherwise(0)).alias("tp"),
        F.sum(F.when((F.col("a") == 1) & (F.col("b") == 0), 1).otherwise(0)).alias("fp"),
        F.sum(F.when((F.col("a") == 0) & (F.col("b") == 1), 1).otherwise(0)).alias("fn"),
        F.sum(F.when((F.col("a") == 0) & (F.col("b") == 0), 1).otherwise(0)).alias("tn"),
    )
    return m.select(
        "n",
        "tp",
        "fp",
        "fn",
        "tn",
        F.expr("((tp + tn) * 1000000) div n").alias("agree_micro"),
        F.expr(
            "((n * (tp + tn) - ((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn)))"
            " * 1000000)"
            " div (n * n - ((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn)))"
        ).alias("kappa_micro"),
    )


# --------------------------------------------------------------------------
# Word burstiness (variance-to-mean ratio of per-doc term counts)
# --------------------------------------------------------------------------
BURST_MIN_DF = 10
BURST_TOP_K = 20

_BURST_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
tf AS (
  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
  FROM tok GROUP BY doc_id, w),
stats AS (
  SELECT w,
         CAST(count(*) AS BIGINT) AS df,
         CAST(sum(tf) AS BIGINT) AS total_tf,
         CAST(sum(tf * tf) AS BIGINT) AS total_tf2
  FROM tf GROUP BY w HAVING count(*) >= {BURST_MIN_DF})
SELECT w AS word, df, total_tf,
       CAST(((df * total_tf2 - total_tf * total_tf) * 1000000)
            // (total_tf * (df - 1)) AS BIGINT) AS vmr_micro
FROM stats
WHERE df > 1
ORDER BY vmr_micro DESC, word
LIMIT {BURST_TOP_K}
"""


@query("text_burstiness_topk", oracle=_BURST_ORACLE)
def text_burstiness_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The most BURSTY vocabulary: variance-to-mean ratio of per-document
    term counts, over documents containing the term (VMR ≈ 1 is
    Poisson/background; VMR ≫ 1 marks topical/templated terms that
    cluster inside few documents) — the corpus-linguistics signal that
    separates content words from function words where raw frequency
    (`text_word_freq`) cannot.

    Entirely integer: Σtf and Σtf² are exact int64 sums, and the sample
    VMR over occurring docs, (df·Σtf² − (Σtf)²)/(Σtf·(df−1)), clears
    its fraction into one micro-unit `div`.  Same (doc, term) → term
    aggregation spine as TF-IDF (map-side combine both levels, shuffle
    keys are hashed terms); the min-df gate drops the hapax tail before
    ranking and the top-20 is a TakeOrderedAndProject."""
    tok = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    )
    tf = tok.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    stats = (
        tf.groupBy("w")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").alias("total_tf"),
            F.sum(F.col("tf") * F.col("tf")).alias("total_tf2"),
        )
        .filter(F.col("df") >= BURST_MIN_DF)
        .filter(F.col("df") > 1)
    )
    return (
        stats.select(
            F.col("w").alias("word"),
            "df",
            "total_tf",
            F.expr(
                "((df * total_tf2 - total_tf * total_tf) * 1000000)"
                " div (total_tf * (df - 1))"
            ).alias("vmr_micro"),
        )
        .orderBy(F.desc("vmr_micro"), F.asc("word"))
        .limit(BURST_TOP_K)
    )
