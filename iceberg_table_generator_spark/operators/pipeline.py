"""Training-data pipeline operators over `documents` (SURVEY.md §2.8).

The three stages every large-scale LLM data pipeline runs between raw text
and the tokenizer, each expressed as pure DataFrame ops:

- chunking: overlapping token windows per document (explode of an in-row
  window computation — zero shuffle);
- benchmark-contamination check: n-gram overlap between the corpus and a
  held-out benchmark set via an inverted-index equi-join (the dedup
  machinery pointed across corpora instead of within one);
- quality-filter verdict: the keep/drop decision combining the
  text-quality features with explicit, auditable reject reasons.

All three are DuckDB-oracle-paired; cross-row sums follow the decimal
accumulation policy of operators/relational.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from iceberg_table_generator_spark.functions.text import (
    md5_60,
    md5_60_sql,
    ngrams,
    shingles,
    tokens,
    tokens_sql,
)
from iceberg_table_generator_spark.operators.text import STOPWORDS, _sql_list
from iceberg_table_generator_spark.functions.order import with_global_order
from iceberg_table_generator_spark.functions.cache import persist_tracked
from iceberg_table_generator_spark.registry import query
from iceberg_table_generator_spark.sources.tables import load_table, spread

CHUNK_SIZE = 64  # tokens per chunk
CHUNK_STRIDE = 48  # tokens between chunk starts (CHUNK_SIZE-48 = 16 overlap)


# --------------------------------------------------------------------------
# Document chunking: overlapping token windows
# --------------------------------------------------------------------------
_CHUNK_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
starts AS (
  SELECT doc_id, lang, ws,
         unnest(generate_series(0, len(ws) - 1, {CHUNK_STRIDE})) AS start
  FROM tok)
SELECT doc_id,
       CAST(start / {CHUNK_STRIDE} AS INT) AS chunk_id,
       CAST(start AS INT) AS chunk_start,
       CAST(least({CHUNK_SIZE}, len(ws) - start) AS INT) AS n_tokens,
       array_to_string(list_slice(ws, start + 1, start + {CHUNK_SIZE}), ' ')
         AS chunk_text
FROM starts
"""


@query("pipeline_chunk_documents", oracle=_CHUNK_ORACLE)
def pipeline_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token windows ({CHUNK_SIZE} tokens, stride
    {CHUNK_STRIDE}) — the context-window packing step before tokenization.
    The windows are computed inside one row (sequence + slice over the
    token array) and exploded: a zero-shuffle narrow pass whose output
    rows ≈ input tokens / stride, embarrassingly parallel at any scale."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.split("text", " ").alias("ws"))
    starts = tok.select(
        "doc_id",
        "ws",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(F.size("ws") - 1, F.lit(0)),
                F.lit(CHUNK_STRIDE),
            )
        ).alias("start"),
    )
    return starts.select(
        "doc_id",
        (F.col("start") / CHUNK_STRIDE).cast("int").alias("chunk_id"),
        F.col("start").cast("int").alias("chunk_start"),
        F.least(F.lit(CHUNK_SIZE), F.size("ws") - F.col("start"))
        .cast("int")
        .alias("n_tokens"),
        F.concat_ws(" ", F.slice("ws", F.col("start") + 1, F.lit(CHUNK_SIZE))).alias(
            "chunk_text"
        ),
    )


# --------------------------------------------------------------------------
# Benchmark-contamination check (cross-corpus n-gram overlap)
# --------------------------------------------------------------------------
BENCH_MOD = 20  # doc_id % 20 == 0 plays the held-out benchmark set


CONTAMINATION_DF_CAP = 50  # shingles in more docs than this are boilerplate

_CONTAMINATION_ORACLE = f"""
WITH w AS (
  SELECT doc_id, {tokens_sql()} AS ws FROM documents),
sh AS (
  SELECT doc_id,
         len(list_distinct(list_transform(generate_series(1, len(ws) - 2),
             i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS n,
         unnest(list_distinct(list_transform(generate_series(1, len(ws) - 2),
             i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s
  FROM w),
hot AS (
  SELECT s FROM sh GROUP BY s HAVING count(*) > {CONTAMINATION_DF_CAP}),
cold AS (SELECT * FROM sh WHERE s NOT IN (SELECT s FROM hot)),
corpus AS (SELECT * FROM cold WHERE doc_id % {BENCH_MOD} <> 0),
bench  AS (SELECT * FROM cold WHERE doc_id % {BENCH_MOD} = 0)
SELECT c.doc_id AS doc_id, b.doc_id AS bench_id,
       CAST(count(*) AS BIGINT) AS shared_ngrams,
       round(count(*) * 1.0 / any_value(c.n), 6) AS contamination_rate
FROM corpus c JOIN bench b ON c.s = b.s
GROUP BY c.doc_id, b.doc_id
HAVING round(count(*) * 1.0 / any_value(c.n), 6) >= 0.2
"""


@query("pipeline_contamination_check", oracle=_CONTAMINATION_ORACLE)
def pipeline_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark contamination: corpus documents sharing ≥20% of their
    3-gram shingles with a held-out benchmark document (doc_id % 20 == 0
    stands in for the benchmark corpus).  Same inverted-index equi-join
    as the Jaccard dedup — the join key is the shingle hash, so only true
    overlaps materialize, and the benchmark side is small (broadcast) at
    any corpus scale.

    Boilerplate guard: shingles appearing in more than
    CONTAMINATION_DF_CAP documents are dropped before the join (they are
    shared VOCABULARY, not contamination evidence) — without the cap one
    common 3-gram multiplies |corpus postings| × |bench postings| and the
    join output goes quadratic (measured 29s → ~5s at sf0.1).  The oracle
    applies the identical cap, so the check stays exact at every SF.  The
    hashed index is persisted (DISK_ONLY) once: the hot-set pass, the
    corpus side, and the bench side all reuse it instead of
    re-tokenizing."""

    d = spread(load_table(spark, sf_dir, "documents")).withColumn("tokens", tokens())
    d = d.withColumn("shingles", shingles("tokens", 3))
    # persist(DISK_ONLY), not localCheckpoint: corpus-sized relation — see
    # the identical fault-tolerance rationale on dedup_ngram_jaccard's
    # posting stream (truncated-lineage localCheckpoint blocks are not
    # recomputable after executor loss at 100 TB).
    sh = d.select(
        "doc_id",
        F.size("shingles").alias("n"),
        F.explode(F.transform("shingles", lambda x: F.xxhash64(x))).alias("h"),
    ).transform(persist_tracked)
    hot = (
        sh.groupBy("h")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > CONTAMINATION_DF_CAP)
        .select("h")
    )
    cold = sh.join(F.broadcast(hot), "h", "left_anti")
    corpus = cold.filter(F.pmod("doc_id", F.lit(BENCH_MOD)) != 0)
    bench = cold.filter(F.pmod("doc_id", F.lit(BENCH_MOD)) == 0).select(
        F.col("doc_id").alias("bench_id"), "h"
    )
    rate = F.round(F.count("*") * 1.0 / F.first("n"), 6)
    return (
        corpus.join(F.broadcast(bench), "h")
        .groupBy("doc_id", "bench_id")
        .agg(
            F.count("*").alias("shared_ngrams"),
            rate.alias("contamination_rate"),
        )
        .filter(F.col("contamination_rate") >= 0.2)
    )


# --------------------------------------------------------------------------
# Quality-filter verdict (keep/drop with auditable reasons)
# --------------------------------------------------------------------------
MIN_WORDS = 25
MIN_STOPWORD_RATIO = 0.03
MAX_PUNCT_RATIO = 0.2

_VERDICT_ORACLE = f"""
WITH feat AS (
  SELECT doc_id, lang,
         len(string_split(text, ' ')) AS n_words,
         (length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')))
           * 1.0 / length(text) AS punct_ratio,
         len(list_filter({tokens_sql()},
                         w -> w IN ({_sql_list(STOPWORDS)})))
           * 1.0 / len(string_split(text, ' ')) AS stopword_ratio
  FROM documents)
SELECT doc_id, lang,
       CAST(n_words AS INT) AS n_words,
       round(stopword_ratio, 6) AS stopword_ratio,
       n_words >= {MIN_WORDS}
         AND stopword_ratio >= {MIN_STOPWORD_RATIO}
         AND punct_ratio <= {MAX_PUNCT_RATIO} AS keep,
       concat_ws(',',
         CASE WHEN n_words < {MIN_WORDS} THEN 'too_short' END,
         CASE WHEN stopword_ratio < {MIN_STOPWORD_RATIO} THEN 'low_stopword' END,
         CASE WHEN punct_ratio > {MAX_PUNCT_RATIO} THEN 'high_punct' END)
         AS reject_reasons
FROM feat
"""


@query("pipeline_quality_verdict", oracle=_VERDICT_ORACLE)
def pipeline_quality_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keep/drop gate of the quality pipeline: every document gets a
    boolean verdict plus the exact list of rules it violated (auditable
    filtering, the shape used to debug recall of aggressive filters).
    Pure per-row expressions — zero shuffle at any scale."""
    d = load_table(spark, sf_dir, "documents")
    n_words = F.size(F.split("text", " "))
    text_len = F.length("text")
    punct_ratio = (
        (text_len - F.length(F.regexp_replace("text", "[^a-z0-9 ]", ""))) * 1.0 / text_len
    )
    stopword_ratio = (
        F.size(F.filter(tokens(), lambda w: w.isin(STOPWORDS)))
        * 1.0
        / n_words
    )
    feat = d.select(
        "doc_id",
        "lang",
        n_words.alias("n_words"),
        punct_ratio.alias("punct_ratio"),
        stopword_ratio.alias("stopword_ratio"),
    )
    return feat.select(
        "doc_id",
        "lang",
        F.col("n_words").cast("int").alias("n_words"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
        (
            (F.col("n_words") >= MIN_WORDS)
            & (F.col("stopword_ratio") >= MIN_STOPWORD_RATIO)
            & (F.col("punct_ratio") <= MAX_PUNCT_RATIO)
        ).alias("keep"),
        F.concat_ws(
            ",",
            F.when(F.col("n_words") < MIN_WORDS, "too_short"),
            F.when(F.col("stopword_ratio") < MIN_STOPWORD_RATIO, "low_stopword"),
            F.when(F.col("punct_ratio") > MAX_PUNCT_RATIO, "high_punct"),
        ).alias("reject_reasons"),
    )


# --------------------------------------------------------------------------
# Repetition statistics (Gopher-style repetition quality signal)
# --------------------------------------------------------------------------
_REPETITION_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, {tokens_sql()} AS ws FROM documents),
bi AS (
  SELECT doc_id,
         list_transform(generate_series(1, len(ws) - 1),
                        i -> ws[i] || ' ' || ws[i+1]) AS bigrams
  FROM tok),
counts AS (
  SELECT doc_id, len(bigrams) AS n_bigrams,
         unnest(bigrams) AS bg
  FROM bi),
freq AS (
  SELECT doc_id, any_value(n_bigrams) AS n_bigrams, bg, count(*) AS n
  FROM counts GROUP BY doc_id, bg),
top AS (
  SELECT doc_id, any_value(n_bigrams) AS n_bigrams, max(n) AS top_n,
         CAST(count(*) AS BIGINT) AS distinct_bigrams
  FROM freq GROUP BY doc_id)
SELECT doc_id,
       CAST(n_bigrams AS INT) AS n_bigrams,
       distinct_bigrams,
       CAST(top_n AS INT) AS top_bigram_count,
       round(top_n * 1.0 / n_bigrams, 6) AS top_bigram_ratio,
       round(distinct_bigrams * 1.0 / n_bigrams, 6) AS distinct_ratio
FROM top
"""


@query("pipeline_repetition_stats", oracle=_REPETITION_ORACLE)
def pipeline_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signal (the Gopher/MassiveText family of rules):
    per document, the most-frequent-bigram share and the distinct-bigram
    ratio — high top-bigram share or low distinct ratio marks boilerplate
    and degenerate repetition.  Computed entirely in-row with ZERO
    exchanges (r14): the per-doc bigram multiset is sorted once
    (`array_sort` — any total order groups equal bigrams into runs), and
    one run-length fold reads off both the max multiplicity (the top
    bigram's count) and the number of runs (the distinct-bigram count).
    The r13 shape exploded every bigram into a corpus-wide
    (doc_id, bigram) shuffle through two hash aggregations — 7.3 s
    in-bench; the statistic is per-document, so nothing needs to leave
    the row."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", tokens().alias("ws"))
    # Guard: for <2 tokens, sequence(1, size-1) would DESCEND ([1,0]) and
    # fabricate bogus bigrams (or throw under ANSI).  Emit array() instead;
    # 0-bigram docs are then dropped by the filter below — matching the
    # oracle, whose generate_series(1, 0) is empty so such docs never
    # appear either (the r13 explode dropped them the same way).
    bi = tok.select(
        "doc_id",
        F.expr(
            "CASE WHEN size(ws) < 2 THEN array() "
            "ELSE transform(sequence(1, size(ws) - 1), "
            "i -> concat_ws(' ', ws[i-1], ws[i])) END"
        ).alias("bigrams"),
    ).filter(F.size("bigrams") >= 1)
    # Run-length fold over the sorted bigram array: `run` is the current
    # run's length, `best` the max run seen (= top bigram count), `d` the
    # run count (= distinct bigrams).  Integer-exact, row-local.
    rl = bi.select(
        "doc_id",
        F.size("bigrams").alias("n_bigrams"),
        F.expr(
            "aggregate(array_sort(bigrams), "
            "struct(CAST(NULL AS STRING) AS prev, 0L AS run, 0L AS best, 0L AS d), "
            "(acc, x) -> struct(x AS prev, "
            "  IF(acc.prev IS NULL OR x != acc.prev, 1L, acc.run + 1L) AS run, "
            "  GREATEST(acc.best, "
            "    IF(acc.prev IS NULL OR x != acc.prev, 1L, acc.run + 1L)) AS best, "
            "  acc.d + IF(acc.prev IS NULL OR x != acc.prev, 1L, 0L) AS d), "
            "acc -> struct(acc.best AS top_n, acc.d AS distinct_bigrams))"
        ).alias("s"),
    )
    return rl.select(
        "doc_id",
        F.col("n_bigrams").cast("int").alias("n_bigrams"),
        F.col("s.distinct_bigrams").alias("distinct_bigrams"),
        F.col("s.top_n").cast("int").alias("top_bigram_count"),
        F.round(F.col("s.top_n") * 1.0 / F.col("n_bigrams"), 6).alias(
            "top_bigram_ratio"
        ),
        F.round(F.col("s.distinct_bigrams") * 1.0 / F.col("n_bigrams"), 6).alias(
            "distinct_ratio"
        ),
    )


# --------------------------------------------------------------------------
# Language-stratified deterministic sampling
# --------------------------------------------------------------------------
STRATA_RATES = {"en": 0.5, "de": 0.25, "fr": 0.25, "es": 0.1}
_SAMPLE_SEED = 77
# Knuth's multiplicative constant: odd and coprime to the 10000 bucket
# modulus, so doc_id -> bucket is a bijection over each residue class —
# bucket assignment is exactly uniform over any 10000 consecutive ids, so
# each stratum's keep rate concentrates tightly around rate_bp/10000
# (exact per-stratum counts would additionally need each stratum to own
# complete residue windows).  Products stay far below int64 overflow for any realistic id
# (DuckDB raises on bigint overflow rather than wrapping, so this bound
# is a correctness requirement, not just hygiene).
_SAMPLE_MULT = 2654435761
_DEFAULT_RATE_BP = 500  # basis points of 10000 == 0.05


def _rate_bp(rate: float) -> int:
    return int(round(rate * 10000))


def _sql_bucket_case() -> str:
    whens = " ".join(
        f"WHEN lang = '{la}' THEN {_rate_bp(r)}" for la, r in STRATA_RATES.items()
    )
    return f"CASE {whens} ELSE {_DEFAULT_RATE_BP} END"


_STRATIFIED_ORACLE = f"""
SELECT doc_id, lang
FROM documents
WHERE (CAST(doc_id AS BIGINT) * {_SAMPLE_MULT} + {_SAMPLE_SEED}) % 10000
      < {_sql_bucket_case()}
"""


@query("pipeline_stratified_sample", oracle=_STRATIFIED_ORACLE)
def pipeline_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-stratified deterministic sampling: each language keeps its
    own rate (the data-mixture reweighting step of corpus building), and
    membership is pure integer arithmetic on doc_id — the same rows are
    kept on any cluster, any partitioning, any rerun, and (unlike the r3
    xxhash64 form) on any ENGINE, so the DuckDB oracle compares
    bit-identically (VERDICT r3 #3).  The multiplicative stratifier
    `(doc_id * K + seed) mod 10000 < rate_bp` is a bijection per residue
    class (K odd, coprime to 10000), giving exact per-window rates.
    Zero shuffle: a narrow filter the scan absorbs."""
    d = load_table(spark, sf_dir, "documents")
    bucket = F.pmod(
        F.col("doc_id").cast("bigint") * F.lit(_SAMPLE_MULT) + F.lit(_SAMPLE_SEED),
        F.lit(10000),
    )
    thr = F.lit(_DEFAULT_RATE_BP)
    for la, r in STRATA_RATES.items():
        thr = F.when(F.col("lang") == la, F.lit(_rate_bp(r))).otherwise(thr)
    return d.filter(bucket < thr).select("doc_id", "lang")


# --------------------------------------------------------------------------
# Token-rarity scoring (perplexity-proxy quality signal)
# --------------------------------------------------------------------------
_RARITY_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest({tokens_sql()}) AS w FROM documents),
freq AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
tot AS (SELECT count(*) AS n FROM tok),
per_doc AS (
  SELECT t.doc_id, count(*) AS n_tokens, sum(f.c) AS sum_c
  FROM tok t JOIN freq f ON t.w = f.w
  GROUP BY t.doc_id)
SELECT doc_id,
       CAST(n_tokens AS INT) AS n_tokens,
       CAST(sum_c AS DOUBLE)
         / (CAST(n_tokens AS DOUBLE) * CAST((SELECT n FROM tot) AS DOUBLE))
         AS avg_token_freq
FROM per_doc
"""


# Df-cap for the hot/tail split: tokens whose corpus frequency ranks in the
# top HOT_TOKEN_CAP are attached via a bounded broadcast; everything else
# takes the shuffle join.  1024 rows of (token, count) is a few KiB — a
# constant, NOT a function of vocabulary size.
HOT_TOKEN_CAP = 1024


@query("pipeline_token_rarity", oracle=_RARITY_ORACLE)
def pipeline_token_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average corpus frequency of each document's tokens — the
    integer-exact stand-in for LM-perplexity filtering (very high ⇒
    boilerplate made of ultra-common words; very low ⇒ OCR garbage /
    non-language).  Every per-doc number stays in integer arithmetic until
    one final double division — identical to the last bit on both engines.

    Skew design (VERDICT r3 #1).  Token frequency is Zipfian: the hottest
    token is ~3-5% of the whole stream, so ANY plan that shuffles raw
    occurrences by token — the r3 window count, or a plain shuffle join —
    lands multiple TB on one task at 100 TB.  And the r2 form (broadcast
    the whole unigram table) OOMs on a billions-of-distinct-tokens web
    vocabulary.  The scale-safe shape, mirroring dedup.py's stop-shingle
    df-cap:

      1. `doc_tok`: aggregate occurrences to (doc_id, token, k) — the
         shuffle key is COMPOUND, so a hot token's rows spread over every
         doc partition; no skew.
      2. `freq`: groupBy(token) over doc_tok — map-side partial
         aggregation absorbs the Zipf head (each reducer sees at most one
         partial row per map task, not the raw stream).
      3. Hot/tail split: the top-HOT_TOKEN_CAP tokens by frequency are a
         bounded `limit` (a few KiB) and attach via broadcast hash join —
         the hot rows NEVER shuffle by token.  The anti-joined tail
         shuffle-joins `freq` (merge hint pins the shuffle path: at scale
         the vocabulary must never be broadcast) — tail keys are by
         definition not hot, so that shuffle is well distributed.
      4. Per-doc aggregate on doc_id: n_tokens = Σk, sum_c = Σ k·c.

    doc_tok feeds both branches through one reused exchange
    (ReuseExchange dedupes the identical shuffle subtree)."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens()).alias("w"))
    doc_tok = tok.groupBy("doc_id", "w").agg(F.count("*").alias("k"))
    freq = doc_tok.groupBy("w").agg(F.sum("k").alias("c"))
    tot = freq.agg(F.sum("c").alias("n"))
    hot = freq.orderBy(F.desc("c"), F.asc("w")).limit(HOT_TOKEN_CAP)
    hot_rows = doc_tok.join(F.broadcast(hot), "w").select("doc_id", "k", "c")
    # Broadcast the SAME hot subtree for the anti-join (not a re-projected
    # hot.select("w")) so the planner reuses one broadcast exchange; the
    # anti-join output only keeps left columns, so hot's c is harmless.
    tail_rows = (
        doc_tok.join(F.broadcast(hot), "w", "left_anti")
        .join(freq.hint("merge"), "w")
        .select("doc_id", "k", "c")
    )
    per_doc = (
        hot_rows.unionByName(tail_rows)
        .groupBy("doc_id")
        .agg(
            F.sum("k").alias("n_tokens"),
            F.sum(F.col("k") * F.col("c")).alias("sum_c"),
        )
    )
    return per_doc.crossJoin(F.broadcast(tot)).select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        (
            F.col("sum_c").cast("double")
            / (F.col("n_tokens").cast("double") * F.col("n").cast("double"))
        ).alias("avg_token_freq"),
    )


# --------------------------------------------------------------------------
# Corpus-duplicate n-gram ratio (Gopher/RefinedWeb dedup quality signal)
# --------------------------------------------------------------------------
DUP_NGRAM = 8  # word n-gram length (the RefinedWeb "duplicated 8-gram" rule)

_DUP_NGRAM_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, {tokens_sql()} AS ws FROM documents),
grams AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(ws) - {DUP_NGRAM} + 1),
                i -> array_to_string(list_slice(ws, i, i + {DUP_NGRAM} - 1), ' ')))
           AS g
  FROM tok),
freq AS (
  SELECT doc_id, g, count(*) OVER (PARTITION BY g) AS corpus_n
  FROM grams)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN corpus_n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
       CAST(sum(CASE WHEN corpus_n > 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS dup_ratio
FROM freq GROUP BY doc_id
"""


@query("pipeline_dup_ngram_ratio", oracle=_DUP_NGRAM_ORACLE)
def pipeline_dup_ngram_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fraction of a document's word 8-grams that occur anywhere else in
    the corpus — the RefinedWeb/Gopher duplicated-n-gram rule that
    catches boilerplate and templated spam which document-level dedup
    misses.

    Skew design (VERDICT r4 #3).  The boilerplate 8-grams this query
    exists to catch ARE the hot keys, so a window count over the raw
    exploded gram stream (`count(*) over (partition by g)` — the r4 form)
    piles every occurrence of a viral gram onto one task at 100 TB.  Same
    hot/tail shape as `pipeline_token_rarity` one screen up:

      1. `doc_gram`: aggregate occurrences to (doc_id, g, k) — compound
         shuffle key, so a hot gram's rows spread across doc partitions.
      2. `freq`: groupBy(g) over doc_gram with map-side partial agg for
         the corpus count.
      3. Hot/tail split: top-HOT_TOKEN_CAP grams attach via a bounded
         broadcast (hot rows never shuffle by gram); the anti-joined tail
         shuffle-joins `freq` (merge hint — the gram vocabulary is
         corpus-sized and must never be broadcast at scale).
      4. Per-doc aggregate: the dup signal survives aggregation untouched
         because every occurrence of gram g in a doc shares one flag —
         n_dup = Σ k·[corpus_n > 1].

    Docs shorter than 8 tokens yield no grams and are omitted on both
    engines (Spark guarded by CASE; DuckDB's generate_series is empty for
    start > stop).  Integer counts; one final double division."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", tokens().alias("ws"))
    grams = tok.select(
        "doc_id",
        F.explode(ngrams("ws", DUP_NGRAM)).alias("g"),
    )
    doc_gram = grams.groupBy("doc_id", "g").agg(F.count("*").alias("k"))
    freq = doc_gram.groupBy("g").agg(F.sum("k").alias("corpus_n"))
    hot = freq.orderBy(F.desc("corpus_n"), F.asc("g")).limit(HOT_TOKEN_CAP)
    # One broadcast subtree for both the attach and the anti-join, so the
    # planner reuses a single exchange (anti-join output keeps only left
    # columns, so hot's corpus_n column is harmless there).
    hot_rows = doc_gram.join(F.broadcast(hot), "g").select("doc_id", "k", "corpus_n")
    tail_rows = (
        doc_gram.join(F.broadcast(hot), "g", "left_anti")
        .join(freq.hint("merge"), "g")
        .select("doc_id", "k", "corpus_n")
    )
    dup_k = F.sum(F.when(F.col("corpus_n") > 1, F.col("k")).otherwise(F.lit(0)))
    per_doc = (
        hot_rows.unionByName(tail_rows)
        .groupBy("doc_id")
        .agg(
            F.sum("k").alias("n_grams"),
            dup_k.alias("n_dup"),
            (dup_k.cast("double") / F.sum("k").cast("double")).alias("dup_ratio"),
        )
    )
    return per_doc


# --------------------------------------------------------------------------
# Domain / source mixture report (data-mixture accounting)
# --------------------------------------------------------------------------
_DOMAIN_MIX_ORACLE = """
WITH per_doc AS (
  SELECT source, len(string_split(text, ' ')) AS n_tokens FROM documents),
tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS corpus_tokens FROM per_doc)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       CAST(sum(n_tokens) AS DOUBLE) / CAST((SELECT corpus_tokens FROM tot) AS DOUBLE)
         AS token_share,
       CAST(sum(n_tokens) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_doc_tokens
FROM per_doc GROUP BY source
"""


@query("pipeline_domain_mix", oracle=_DOMAIN_MIX_ORACLE)
def pipeline_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source mixture accounting: document and token counts, each
    source's share of corpus tokens, and mean document length — the
    numbers that drive sampling-weight decisions when composing a
    training mixture from heterogeneous sources.

    One partial-aggregated shuffle on `source`; the corpus total joins
    back as a 1-row broadcast.  Counts stay integer; the two shares are
    single double divisions of integers — bit-exact on both engines."""
    d = load_table(spark, sf_dir, "documents")
    per_doc = d.select("source", F.size(F.split("text", " ")).alias("n_tokens"))
    tot = per_doc.agg(F.sum("n_tokens").alias("corpus_tokens"))
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            (F.col("n_tokens").cast("double") / F.col("corpus_tokens").cast("double")).alias(
                "token_share"
            ),
            (F.col("n_tokens").cast("double") / F.col("n_docs").cast("double")).alias(
                "avg_doc_tokens"
            ),
        )
    )


# --------------------------------------------------------------------------
# PII redaction: regex scrub of emails / phone numbers / IPv4 addresses
# --------------------------------------------------------------------------
# The corpus text is synthetic word soup, so the query PLANTS deterministic
# PII derived from doc_id before scrubbing — the patterns, replacement
# order, and counting all exercise the real redaction path.  Regexes are
# kept in the Java∩RE2 common dialect (no lookaround/backrefs) so Spark
# and DuckDB agree character-for-character.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\b\d{3}-\d{3}-\d{4}\b"
_PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"

_PII_ORACLE = f"""
WITH planted AS (
  SELECT doc_id,
         text || ' contact user' || doc_id || '@mail.example.com or 555-' ||
         lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
         lpad(CAST((doc_id * 37) % 10000 AS VARCHAR), 4, '0') ||
         ' from 10.' || (doc_id % 256) || '.0.' || ((doc_id * 3) % 256)
           AS pii_text
  FROM documents)
SELECT doc_id,
       CAST(len(regexp_extract_all(pii_text, '{_PII_EMAIL}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(regexp_replace(pii_text, '{_PII_EMAIL}', '<EMAIL>', 'g'), '{_PII_PHONE}')) AS INT) AS n_phones,
       CAST(len(regexp_extract_all(regexp_replace(regexp_replace(pii_text, '{_PII_EMAIL}', '<EMAIL>', 'g'), '{_PII_PHONE}', '<PHONE>', 'g'), '{_PII_IP}')) AS INT) AS n_ips,
       regexp_replace(regexp_replace(regexp_replace(pii_text,
         '{_PII_EMAIL}', '<EMAIL>', 'g'),
         '{_PII_PHONE}', '<PHONE>', 'g'),
         '{_PII_IP}', '<IP>', 'g') AS redacted
FROM planted
"""


@query("pipeline_pii_redaction", oracle=_PII_ORACLE)
def pipeline_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub — the compliance pass every web-scale training corpus
    runs before tokenization.  Plants doc_id-derived email/phone/IPv4
    strings, then redacts them with a fixed-order `regexp_replace` chain
    (email → phone → IP, later patterns applied to earlier output so
    counts are unambiguous) and reports per-doc match counts.

    Scale posture: pure narrow per-row string ops — zero shuffle, full
    whole-stage codegen, linearly partition-parallel at 100 TB.  Counting
    uses `regexp_count` (JVM-side), never a Python UDF."""
    docs = load_table(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@mail.example.com or 555-"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad(((F.col("doc_id") * 37) % 10000).cast("string"), 4, "0"),
            F.lit(" from 10."), (F.col("doc_id") % 256).cast("string"),
            F.lit(".0."), ((F.col("doc_id") * 3) % 256).cast("string"),
        ).alias("pii_text"),
    )
    after_email = F.regexp_replace("pii_text", _PII_EMAIL, "<EMAIL>")
    after_phone = F.regexp_replace(after_email, _PII_PHONE, "<PHONE>")
    return planted.select(
        "doc_id",
        F.regexp_count("pii_text", F.lit(_PII_EMAIL)).cast("int").alias("n_emails"),
        F.regexp_count(after_email, F.lit(_PII_PHONE)).cast("int").alias("n_phones"),
        F.regexp_count(after_phone, F.lit(_PII_IP)).cast("int").alias("n_ips"),
        F.regexp_replace(after_phone, _PII_IP, "<IP>").alias("redacted"),
    )


# --------------------------------------------------------------------------
# Sequence packing: concat-and-split token-budget packing into training rows
# --------------------------------------------------------------------------
SEQ_LEN = 256  # tokens per packed training sequence
N_PACK_SHARDS = 8  # independent packing streams (≈ writer tasks at scale)

_PACKING_ORACLE = f"""
WITH tok AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS tokens,
         {md5_60_sql("CAST(doc_id AS VARCHAR)")} % {N_PACK_SHARDS} AS shard_id
  FROM documents),
cum AS (
  SELECT shard_id, doc_id, tokens,
         CAST(sum(tokens) OVER (PARTITION BY shard_id ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum_end
  FROM tok WHERE tokens > 0),
spans AS (
  SELECT shard_id, cum_end - tokens AS cum_start, cum_end,
         unnest(generate_series((cum_end - tokens) // {SEQ_LEN},
                                (cum_end - 1) // {SEQ_LEN})) AS seq_id
  FROM cum)
SELECT shard_id, seq_id,
       CAST(count(*) AS INT) AS n_docs,
       CAST(sum(least(cum_end, (seq_id + 1) * {SEQ_LEN})
                - greatest(cum_start, seq_id * {SEQ_LEN})) AS BIGINT)
         AS seq_tokens,
       CAST(sum(CASE WHEN cum_start < seq_id * {SEQ_LEN} THEN 1 ELSE 0 END)
            AS INT) AS n_carry_in
FROM spans GROUP BY shard_id, seq_id
"""


@query("pipeline_sequence_packing", oracle=_PACKING_ORACLE)
def pipeline_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-split sequence packing: the step between a filtered corpus
    and the trainer, where documents are concatenated in a deterministic
    order and cut into fixed SEQ_LEN-token training rows (the packing used
    by GPT-style pretraining — no padding, documents straddle boundaries).
    Returns per packed sequence: how many documents contribute, its token
    count (SEQ_LEN everywhere but each shard's tail), and how many of its
    documents carried over from the previous sequence.  No counterpart in
    the reference (generation only, `Main.java:475-603`); this is the §2.8
    training-pipeline surface.

    Scale design: a single global concatenation order would serialize the
    corpus through one cumulative sum — instead documents are hashed into
    N_PACK_SHARDS independent packing streams (at real scale: one per
    writer task, thousands), so the only window runs PARTITION BY shard_id
    and every shard packs in parallel.  The shard hash is the
    engine-independent 60-bit md5 prefix (same construction as the dedup
    family, `md5_60`).  Token offsets are integer (`div`), never double —
    a 100 TB corpus overflows double's 2^53 exact-integer range.  The
    boundary-span explode emits (last_seq - first_seq + 1) rows per doc,
    i.e. ~tokens/SEQ_LEN — output-proportional, not quadratic."""
    from pyspark.sql.window import Window

    tok = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.size(F.split("text", " ")).cast("long").alias("tokens"),
            (md5_60(F.col("doc_id").cast("string")) % N_PACK_SHARDS).alias(
                "shard_id"
            ),
        )
        .filter(F.col("tokens") > 0)
    )
    w = (
        Window.partitionBy("shard_id")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = tok.select(
        "shard_id",
        "tokens",
        F.sum("tokens").over(w).alias("cum_end"),
    ).select(
        "shard_id",
        (F.col("cum_end") - F.col("tokens")).alias("cum_start"),
        "cum_end",
    )
    spans = cum.select(
        "shard_id",
        "cum_start",
        "cum_end",
        F.explode(
            F.sequence(
                F.expr(f"cum_start div {SEQ_LEN}"),
                F.expr(f"(cum_end - 1) div {SEQ_LEN}"),
            )
        ).alias("seq_id"),
    )
    seq_lo = F.col("seq_id") * SEQ_LEN
    return spans.groupBy("shard_id", "seq_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_docs"),
        F.sum(
            F.least(F.col("cum_end"), seq_lo + SEQ_LEN)
            - F.greatest(F.col("cum_start"), seq_lo)
        ).alias("seq_tokens"),
        F.sum((F.col("cum_start") < seq_lo).cast("int")).cast("int").alias("n_carry_in"),
    )


# --------------------------------------------------------------------------
# Hashed linear classifier score (fastText-style quality model, in-row)
# --------------------------------------------------------------------------
CLF_P = 1_000_003  # prime weight modulus: w(token) = (h mod P) - P//2
CLF_KEEP_NUM = 25_000  # keep iff mean weight > CLF_KEEP_NUM (scaled by P)

_CLASSIFIER_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, lang,
         len({tokens_sql()}) AS n_tokens,
         CAST(list_sum(list_transform({tokens_sql()},
                t -> {md5_60_sql('t')}
                     % {CLF_P} - {CLF_P // 2})) AS BIGINT) AS score_num
  FROM documents)
SELECT doc_id, lang, CAST(n_tokens AS INT) AS n_tokens, score_num,
       CAST(score_num > CAST(n_tokens AS BIGINT) * {CLF_KEEP_NUM} AS BOOLEAN)
         AS keep
FROM scored WHERE n_tokens > 0
"""


@query("pipeline_classifier_score", oracle=_CLASSIFIER_ORACLE)
def pipeline_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FastText-style hashed linear classifier over bag-of-words features —
    the model-based quality filter (CCNet/LLaMA-style "looks like good
    text" scoring) that complements `pipeline_quality_verdict`'s
    hand-written heuristics.  Each token hashes to a feature id whose
    weight here is DERIVED from the hash itself (integer in
    [-P//2, P//2)), so the classifier is a pure function of the text:
    engine-exact, no transcendentals, no weight table.  Keep verdict
    compares the integer weight sum against n_tokens·threshold — all-
    integer cross-multiplication, no division, no float rounding anywhere.

    Scale design: scoring is entirely in-row (split → transform → in-array
    fold), zero shuffle, zero UDF — whole-stage codegen end to end.  With
    a REAL trained model the only change is the weight lookup: a
    model-parameter-sized broadcast array indexed by `h % dim` replaces
    the arithmetic — the shape (narrow map over docs) is unchanged, which
    is exactly why fastText classifiers are the web-scale default
    (GPT-3/LLaMA data papers).  Hashing reuses the engine-independent
    60-bit md5 prefix (`md5_60`)."""

    toks = tokens()
    weight_sum = F.aggregate(
        F.transform(toks, lambda t: md5_60(t) % CLF_P - CLF_P // 2),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "lang",
            F.size(toks).cast("int").alias("n_tokens"),
            weight_sum.alias("score_num"),
        )
        .filter(F.col("n_tokens") > 0)
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            "score_num",
            (F.col("score_num") > F.col("n_tokens").cast("long") * CLF_KEEP_NUM).alias("keep"),
        )
    )


# --------------------------------------------------------------------------
# Per-source score calibration (quantile normalization)
# --------------------------------------------------------------------------
_CALIBRATION_ORACLE = f"""
WITH feat AS (
  SELECT doc_id, source,
         len(string_split(text, ' ')) AS n_words,
         CAST(len(list_filter({tokens_sql()},
                              w -> w IN ('the','a','an','and','or','of',
                                         'to','in','is','it'))) AS DOUBLE)
           / len(string_split(text, ' ')) AS stop_ratio
  FROM documents WHERE len(string_split(text, ' ')) > 0),
scored AS (
  SELECT doc_id, source,
         round(stop_ratio * 100 + n_words * 0.01, 6) AS raw_score
  FROM feat)
SELECT doc_id, source, raw_score,
       round(percent_rank() OVER (PARTITION BY source
                                  ORDER BY raw_score, doc_id), 6) AS pct,
       CAST(percent_rank() OVER (PARTITION BY source
                                 ORDER BY raw_score, doc_id) >= 0.5
            AS BOOLEAN) AS keep_top_half
FROM scored
"""


@query("pipeline_score_calibration", oracle=_CALIBRATION_ORACLE)
def pipeline_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quantile normalization of a raw quality score — the
    calibration step (DCLM / RefinedWeb practice) that makes "keep the
    best X%" comparable ACROSS sources: a raw threshold tuned on one
    domain over- or under-selects on another whose score distribution
    shifts, so each document is ranked within its own source and the
    keep decision cuts on the percentile, not the raw value.

    Scale: one narrow scoring pass, then a single window PARTITION BY
    source — thousands of independent partitions; a skewed mega-source
    is the hot/tail candidate, same playbook as tf-idf.  Ties are made
    total by the (raw_score, doc_id) order so `percent_rank` is
    engine-exact; the raw score itself is rounded once before ranking so
    both engines rank identical values."""
    toks = F.split("text", " ")
    low = tokens()
    stop_arr = F.array(*[F.lit(w) for w in
                         ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")])
    feat = (
        load_table(spark, sf_dir, "documents")
        .filter(F.size(toks) > 0)
        .select(
            "doc_id",
            "source",
            F.size(toks).alias("n_words"),
            (
                F.size(F.filter(low, lambda w: F.array_contains(stop_arr, w))).cast(
                    "double"
                )
                / F.size(toks)
            ).alias("stop_ratio"),
        )
    )
    scored = feat.select(
        "doc_id",
        "source",
        F.round(F.col("stop_ratio") * 100 + F.col("n_words") * 0.01, 6).alias(
            "raw_score"
        ),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("source").orderBy("raw_score", "doc_id")
    pr = F.percent_rank().over(w)
    return scored.select(
        "doc_id",
        "source",
        "raw_score",
        F.round(pr, 6).alias("pct"),
        (pr >= 0.5).alias("keep_top_half"),
    )


# --------------------------------------------------------------------------
# Mixture sampling: apply per-source token budgets deterministically
# --------------------------------------------------------------------------
# Per-source token budget (the APPLICATION of the mixture that
# `pipeline_domain_mix` only accounts for).  At real scale these are the
# epoch token targets from the data-mixture spec (e.g. The Pile / Dolma
# mixture tables); a driver-sized literal either way.
MIX_BUDGET = 2_000


_MIXTURE_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens,
         md5(CAST(doc_id AS VARCHAR)) AS rk
  FROM documents
  WHERE len(string_split(text, ' ')) > 0),
cum AS (
  SELECT doc_id, source, tokens,
         CAST(sum(tokens) OVER (PARTITION BY source ORDER BY rk, doc_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum_tokens
  FROM tok),
kept AS (SELECT * FROM cum WHERE cum_tokens - tokens < {MIX_BUDGET})
SELECT source,
       CAST(count(*) AS BIGINT) AS kept_docs,
       CAST(sum(tokens) AS BIGINT) AS kept_tokens,
       CAST(max(cum_tokens) - {MIX_BUDGET} >= 0 AS BOOLEAN) AS budget_hit
FROM kept GROUP BY source
"""


@query("pipeline_mixture_sample", oracle=_MIXTURE_ORACLE)
def pipeline_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a data-mixture spec: deterministically sample each source
    down to its token budget.  Documents are ordered by a content-free
    md5 shuffle key (so the sample is unbiased w.r.t. position and
    reproducible on any cluster), accumulated per source, and kept while
    the budget has room; a doc STARTING under budget is kept whole (the
    overshoot convention, matching how epoch sampling actually cuts).
    Returns per source: kept docs, kept tokens, and whether the budget
    bound (vs the source running dry).

    Scale: the cumsum window partitions by source — the same
    embarrassingly-parallel shape as sequence packing's shards; the md5
    sort key means no global sort, just per-source ordering inside each
    window partition.  Budgets are a driver literal (the mixture spec),
    never a data-dependent relation."""
    from pyspark.sql.window import Window

    toks = F.split("text", " ")
    tok = (
        load_table(spark, sf_dir, "documents")
        .filter(F.size(toks) > 0)
        .select(
            "doc_id",
            "source",
            F.size(toks).cast("long").alias("tokens"),
            F.md5(F.col("doc_id").cast("string")).alias("rk"),
        )
    )
    w = (
        Window.partitionBy("source")
        .orderBy("rk", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = tok.withColumn("cum_tokens", F.sum("tokens").over(w))
    kept = cum.filter(F.col("cum_tokens") - F.col("tokens") < MIX_BUDGET)
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("kept_docs"),
        F.sum("tokens").alias("kept_tokens"),
        (F.max("cum_tokens") - MIX_BUDGET >= 0).alias("budget_hit"),
    )


# --------------------------------------------------------------------------
# Systematic PPS sampling (probability-proportional-to-size, float-free)
# --------------------------------------------------------------------------
PPS_TARGET = 64  # sample size k: one draw per W/k tokens of cumulative mass


_PPS_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens,
         md5(CAST(doc_id AS VARCHAR)) AS rk
  FROM documents
  WHERE len(string_split(text, ' ')) > 0),
cum AS (
  SELECT doc_id, source, tokens,
         CAST(sum(tokens) OVER (ORDER BY rk, doc_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c_hi
  FROM tok),
tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS w FROM tok),
marked AS (
  SELECT doc_id, source, tokens,
         ((c_hi - tokens) * {PPS_TARGET}) // t.w AS lo,
         (c_hi * {PPS_TARGET}) // t.w AS hi
  FROM cum CROSS JOIN tot t)
SELECT source,
       CAST(count(*) AS BIGINT) AS sampled_docs,
       CAST(sum(tokens) AS BIGINT) AS sampled_tokens
FROM marked WHERE hi > lo
GROUP BY source
"""


@query("pipeline_pps_sample", oracle=_PPS_ORACLE)
def pipeline_pps_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic probability-proportional-to-size sampling: documents are
    laid on the cumulative token line in md5-shuffled order and one draw
    is taken every W/k tokens — long documents are proportionally more
    likely to be hit, short ones can be skipped, and the draw count is
    exactly k (the survey-statistics PPS design, here the "sample big
    docs proportionally for eval" pass).  Selection is the integer test
    `floor(c_hi·k/W) > floor(c_lo·k/W)` — NO floats anywhere, so both
    engines select the identical document set (the float-free twin of
    Efraimidis-Spirakis weighted sampling, whose u^(1/w) keys are
    transcendental and therefore un-orableable bit-exactly).

    Scale: the cumulative token line is the two-phase distributed prefix
    scan (`functions/order.py::with_global_order` — range shuffle on the
    md5 order, per-partition running sums, cluster-bounded offset
    broadcast), bit-equal to the single-partition window it replaced in
    r8, so the corpus never lands on one executor."""
    toks = F.split("text", " ")
    tok = (
        load_table(spark, sf_dir, "documents")
        .filter(F.size(toks) > 0)
        .select(
            "doc_id",
            "source",
            F.size(toks).cast("long").alias("tokens"),
            F.md5(F.col("doc_id").cast("string")).alias("rk"),
        )
    )
    cum = with_global_order(
        tok,
        [("rk", True), ("doc_id", True)],
        cums=[(F.col("tokens"), "c_hi")],
        pos=None,
    )
    tot = tok.agg(F.sum("tokens").alias("w_total"))
    marked = cum.crossJoin(F.broadcast(tot)).select(
        "source",
        "tokens",
        F.expr(f"((c_hi - tokens) * {PPS_TARGET}) div w_total").alias("lo"),
        F.expr(f"(c_hi * {PPS_TARGET}) div w_total").alias("hi"),
    )
    return (
        marked.filter(F.col("hi") > F.col("lo"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("sampled_docs"),
            F.sum("tokens").alias("sampled_tokens"),
        )
    )


# --------------------------------------------------------------------------
# Gini-Simpson diversity of sources within each language
# --------------------------------------------------------------------------
_SIMPSON_ORACLE = """
WITH cnt AS (
  SELECT lang, source, CAST(count(*) AS BIGINT) AS n
  FROM documents GROUP BY lang, source)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_sources,
       CAST(sum(n) AS BIGINT) AS n_docs,
       round(CAST(sum(n) * sum(n) - sum(n * n) AS DOUBLE)
             / (CAST(sum(n) AS DOUBLE) * sum(n)), 6) AS simpson_diversity
FROM cnt GROUP BY lang
"""


@query("stats_simpson_diversity", oracle=_SIMPSON_ORACLE)
def stats_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini-Simpson diversity index of the source mix within each
    language: 1 − Σp² = (N² − Σn²)/N², the probability two random docs
    of a language come from different sources — the diversity half of
    the corpus-balance dashboard (chi-square asks "independent?", this
    asks "how concentrated?").  Chosen over Shannon entropy precisely
    because it is RATIONAL: integer sums, one fixed-order double
    division, no logarithm, hence exactly cross-engine reproducible.
    One vocabulary-sized aggregation, then a languages-sized rollup."""
    cnt = (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return cnt.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_sources"),
        F.sum("n").alias("n_docs"),
        F.round(
            (F.sum("n") * F.sum("n") - F.sum(F.col("n") * F.col("n"))).cast("double")
            / (F.sum("n").cast("double") * F.sum("n")),
            6,
        ).alias("simpson_diversity"),
    )


# --------------------------------------------------------------------------
# Deterministic train/val/test split with per-stratum quota audit
# --------------------------------------------------------------------------
SPLIT_TRAIN_BP, SPLIT_VAL_BP = 80, 90  # hash %100 < 80 train, < 90 val, else test


def _split_oracle() -> str:

    return f"""
WITH s AS (
  SELECT lang,
         CASE WHEN h < {SPLIT_TRAIN_BP} THEN 'train'
              WHEN h < {SPLIT_VAL_BP} THEN 'val'
              ELSE 'test' END AS split
  FROM (SELECT lang,
               {md5_60_sql("CAST(doc_id AS VARCHAR)")} % 100 AS h
        FROM documents)),
g AS (
  SELECT lang, split, CAST(count(*) AS BIGINT) AS n_docs
  FROM s GROUP BY 1, 2)
SELECT lang, split, n_docs,
       round(n_docs * 1.0 / sum(n_docs) OVER (PARTITION BY lang), 6)
         AS split_share
FROM g
"""


@query("pipeline_train_val_split", oracle=_split_oracle())
def pipeline_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment with the
    per-language quota audit a corpus build signs off on.  Membership is
    a pure function of doc_id through the engine-exact 60-bit md5 prefix
    (`md5_60`): stable under repartitioning, cluster size, rerun,
    and ENGINE — the property that makes the split leakage-free (a doc
    can never migrate between train and test across pipeline runs, the
    failure mode of rand()-based splits).  Unlike
    `pipeline_stratified_sample` (per-language KEEP RATES for mixture
    reweighting) this PARTITIONS the corpus into disjoint exhaustive
    splits and reports realized shares against the 80/10/10 target.

    Scale: a narrow hash projection the scan absorbs, one
    languages×3-row aggregation, and a languages-sized window — no data
    shuffle beyond the aggregation's."""
    from pyspark.sql.window import Window


    d = load_table(spark, sf_dir, "documents")
    h = F.pmod(md5_60(F.col("doc_id").cast("string")), 100)
    split = (
        F.when(h < SPLIT_TRAIN_BP, "train")
        .when(h < SPLIT_VAL_BP, "val")
        .otherwise("test")
    )
    g = d.groupBy("lang", split.alias("split")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    wl = Window.partitionBy("lang")
    return g.select(
        "lang",
        "split",
        "n_docs",
        F.round(
            F.col("n_docs") * 1.0 / F.sum("n_docs").over(wl), 6
        ).alias("split_share"),
    )


# --------------------------------------------------------------------------
# End-to-end corpus manifest (dedup ∘ split ∘ token budget, composed)
# --------------------------------------------------------------------------
def _manifest_oracle() -> str:

    return f"""
WITH d AS (
  SELECT doc_id, lang,
         md5(lower(text)) AS ck,
         len({tokens_sql()}) AS n_tokens,
         CASE WHEN {md5_60_sql("CAST(doc_id AS VARCHAR)")} % 100
                   < {SPLIT_TRAIN_BP} THEN 'train'
              WHEN {md5_60_sql("CAST(doc_id AS VARCHAR)")} % 100
                   < {SPLIT_VAL_BP} THEN 'val'
              ELSE 'test' END AS split
  FROM documents),
k AS (
  SELECT *, (doc_id = min(doc_id) OVER (PARTITION BY ck)) AS is_keep
  FROM d)
SELECT lang, split,
       CAST(count(*) AS BIGINT) AS n_docs_raw,
       CAST(sum(CASE WHEN is_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_kept,
       CAST(sum(CASE WHEN is_keep THEN n_tokens ELSE 0 END) AS BIGINT)
         AS n_tokens_kept,
       round(1.0 - sum(CASE WHEN is_keep THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
         AS dup_rate
FROM k GROUP BY lang, split
"""


@query("pipeline_corpus_manifest", oracle=_manifest_oracle())
def pipeline_corpus_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-set sign-off manifest: per (language, split), raw doc
    count, docs surviving exact dedup, the surviving TOKEN budget (what a
    trainer actually consumes), and the realized duplication rate — the
    one table a corpus release publishes, COMPOSED from the registered
    operator rules rather than re-invented: `dedup_exact`'s
    md5(lower(text))/keep-min rule and `pipeline_train_val_split`'s
    md5-60 hash split, so the manifest can never drift from the operators
    it summarizes (the `similarity_ann_recall_eval` composition
    principle).

    Scale: one narrow projection, one window over the content-hash key
    (group size = duplicate-cluster size — the keep-canonical analysis:
    bounded by dup multiplicity, not corpus size), one languages×3
    aggregation.  The shuffle key is the 16-byte digest, never the
    text."""
    from pyspark.sql.window import Window


    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.md5(F.lower("text")).alias("ck"),
        F.size(tokens()).alias("n_tokens"),
        F.pmod(md5_60(F.col("doc_id").cast("string")), 100).alias("h"),
    )
    split = (
        F.when(F.col("h") < SPLIT_TRAIN_BP, "train")
        .when(F.col("h") < SPLIT_VAL_BP, "val")
        .otherwise("test")
    )
    wck = Window.partitionBy("ck")
    k = d.select(
        "lang",
        split.alias("split"),
        "n_tokens",
        (F.col("doc_id") == F.min("doc_id").over(wck)).alias("is_keep"),
    )
    kept = F.when(F.col("is_keep"), 1).otherwise(0)
    return k.groupBy("lang", "split").agg(
        F.count(F.lit(1)).alias("n_docs_raw"),
        F.sum(kept).alias("n_docs_kept"),
        F.sum(F.when(F.col("is_keep"), F.col("n_tokens")).otherwise(0)).cast(
            "long"
        ).alias("n_tokens_kept"),
        F.round(1.0 - F.sum(kept) * 1.0 / F.count(F.lit(1)), 6).alias("dup_rate"),
    )


# --------------------------------------------------------------------------
# Trimmed mean of document length per source (count-distribution closed form)
# --------------------------------------------------------------------------
TRIM_PCT = 5  # percent trimmed from EACH tail

_TRIMMED_MEAN_ORACLE = f"""
WITH dist AS (
  SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY source, n_chars),
cum AS (
  SELECT source, v, c,
         CAST(sum(c) OVER (PARTITION BY source ORDER BY v) AS BIGINT) AS cum,
         CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n
  FROM dist),
take AS (
  SELECT source, v, n,
         greatest(CAST(0 AS BIGINT),
                  least(cum, n - (n * {TRIM_PCT}) // 100)
                  - greatest(cum - c, (n * {TRIM_PCT}) // 100)) AS taken
  FROM cum)
SELECT source, n,
       CAST(n - 2 * ((n * {TRIM_PCT}) // 100) AS BIGINT) AS n_kept,
       CAST(sum(v * taken) AS BIGINT) AS trimmed_sum,
       round(CAST(sum(v * taken) AS DOUBLE)
             / (n - 2 * ((n * {TRIM_PCT}) // 100)), 6) AS trimmed_mean
FROM take GROUP BY source, n
"""


@query("pipeline_trimmed_mean", oracle=_TRIMMED_MEAN_ORACLE)
def pipeline_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{TRIM_PCT}%-trimmed mean of document length per source — the robust
    location estimate a curation dashboard quotes instead of the raw mean
    (one crawler dump of megabyte pages drags the mean; the trimmed mean
    drops the top and bottom {TRIM_PCT}% by COUNT before averaging).
    Completes the robust-stats family: `lineitem_weighted_median`
    (median), `events_mad_anomaly` (spread), this (location).

    Count-distribution closed form (the Gini/MWU tier): lengths are
    grouped to (value, count) per source, a running sum ranks each value
    bucket, and the kept mass per bucket is the interval overlap
    max(0, min(cum, n−t) − max(cum−c, t)) with t = ⌊n·{TRIM_PCT}/100⌋ —
    pure integer arithmetic; per-row ranks are never materialized and the
    only windows run over the |distinct lengths| aggregated relation,
    partitioned by source.  One integer division, rounded once, at the
    very end."""
    d = load_table(spark, sf_dir, "documents")
    from pyspark.sql.window import Window as W

    dist = d.groupBy("source", F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).alias("c")
    )
    wcum = W.partitionBy("source").orderBy("v").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    wall = W.partitionBy("source")
    cum = dist.select(
        "source",
        "v",
        "c",
        F.sum("c").over(wcum).cast("long").alias("cum"),
        F.sum("c").over(wall).cast("long").alias("n"),
    )
    t = F.expr(f"(n * {TRIM_PCT}) div 100")
    taken = F.greatest(
        F.lit(0).cast("long"),
        F.least(F.col("cum"), F.col("n") - t)
        - F.greatest(F.col("cum") - F.col("c"), t),
    )
    take = cum.select("source", "v", "n", taken.alias("taken"))
    return take.groupBy("source", "n").agg(
        (F.col("n") - 2 * F.expr(f"(n * {TRIM_PCT}) div 100"))
        .cast("long")
        .alias("n_kept"),
        F.sum(F.col("v") * F.col("taken")).cast("long").alias("trimmed_sum"),
        F.round(
            F.sum(F.col("v") * F.col("taken")).cast("double")
            / (F.col("n") - 2 * F.expr(f"(n * {TRIM_PCT}) div 100")),
            6,
        ).alias("trimmed_mean"),
    ).select("source", "n", "n_kept", "trimmed_sum", "trimmed_mean")


# --------------------------------------------------------------------------
# Exact decile map per source (quantile-normalization table)
# --------------------------------------------------------------------------
def _decile_cases_sql() -> str:
    return ", ".join(
        f"CAST(min(CASE WHEN 10 * cum >= {k} * n THEN v END) AS BIGINT)"
        f" AS d{k}"
        for k in range(1, 10)
    )


_DECILE_ORACLE = f"""
WITH dist AS (
  SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY source, n_chars),
cum AS (
  SELECT source, v, c,
         CAST(sum(c) OVER (PARTITION BY source ORDER BY v) AS BIGINT) AS cum,
         CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n
  FROM dist)
SELECT source, max(n) AS n, {_decile_cases_sql()}
FROM cum GROUP BY source
"""


@query("pipeline_decile_map", oracle=_DECILE_ORACLE)
def pipeline_decile_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-source decile boundaries of document length — the
    quantile-normalization lookup table (map any source's length onto the
    pooled scale by rank) and the per-source "is this distribution
    shifted?" read that `stats_ks_test` answers pairwise.  Boundary k is
    the exact lower order statistic: min value whose cumulative count
    crosses k·n/10 (the count-crossing rule the weighted-median family
    uses, fraction-cleared by comparing 10·cum ≥ k·n).

    Scale: lengths fold to (value, count) per source; the only windows
    run over that |distinct lengths| aggregated relation partitioned by
    source; nine conditional mins share one pass.  Pure integers."""
    from pyspark.sql.window import Window as W

    d = load_table(spark, sf_dir, "documents")
    dist = d.groupBy("source", F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).alias("c")
    )
    wcum = W.partitionBy("source").orderBy("v").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    wall = W.partitionBy("source")
    cum = dist.select(
        "source",
        "v",
        F.sum("c").over(wcum).cast("long").alias("cum"),
        F.sum("c").over(wall).cast("long").alias("n"),
    )
    return cum.groupBy("source").agg(
        F.max("n").alias("n"),
        *[
            F.min(F.when(10 * F.col("cum") >= k * F.col("n"), F.col("v")))
            .cast("long")
            .alias(f"d{k}")
            for k in range(1, 10)
        ],
    )
