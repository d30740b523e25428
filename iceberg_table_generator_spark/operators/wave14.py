"""Round-12 second wave: corpus-curation operators from the published
LLM-data playbooks that the surface still lacked.

* **Gopher quality rules** (Rae et al. 2021, "Scaling Language Models:
  Methods, Analysis & Insights from Training Gopher", §A1.1) — the
  rule-based document filter every web-scale pipeline starts from,
  as a per-source pass-rate matrix.
* **UniMax language-budget allocation** (Chung et al. 2023, "UniMax:
  Fairer and More Effective Language Sampling for Large-Scale
  Multilingual Pretraining") — epoch-capped water-filling over language
  token counts; the principled successor to temperature sampling
  (`pipeline_source_mixing_weights` is the temperature tier).
* **MinHash LSH band-configuration sweep** — candidate volume,
  precision, and recall of 8×8 / 16×4 / 32×2 band plans side by side;
  the planning query a 100 TB dedup run executes on a sample BEFORE
  committing a banding (the τ-sweep idiom of `dedup_semdedup_tau_sweep`
  applied to the lexical tier).

Exactness policy (repo convention): thresholds that involve division
are restated as integer cross-multiplications (mean-word-length, the
repetition cap); pow-derived banding thresholds are Python-computed
literals injected into BOTH engines' texts; everything else is integer
counts, shared double op trees, or micro-scaled integer division.

Reference parity note: the reference is a table generator with no
curation surface (`IcebergTableGenerator.java:54-88` writes tables);
this module extends SURVEY.md §2.8's LLM-pipeline mandate.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from iceberg_table_generator_spark.functions import collect
from iceberg_table_generator_spark.functions.cache import persist_tracked
from iceberg_table_generator_spark.functions.text import (
    md5_60,
    md5_60_sql,
    shingles,
    shingles_sql,
    tokens,
    tokens_sql,
)
from iceberg_table_generator_spark.operators.relational import MICRO
from iceberg_table_generator_spark.registry import query
from iceberg_table_generator_spark.sources.tables import load_table, spread


# --------------------------------------------------------------------------
# Gopher quality rules (per-source pass-rate matrix)
# --------------------------------------------------------------------------
#: Rule parameters.  Gopher's published web-corpus values (word count in
#: [50, 100k], mean word length in [3, 10], ≥ 2 stop words, repetition
#: caps) are retuned to this fixture's 10-99-word documents so every rule
#: exercises both outcomes; a production run passes the paper's values.
GOPHER_MIN_WORDS = 20
GOPHER_MAX_WORDS = 80
GOPHER_MIN_MWL = 4  # mean word length lower bound
GOPHER_MAX_MWL = 6  # upper bound (fixture tokens are short English words)
GOPHER_STOPWORDS = ("the", "and", "of", "to", "a", "in", "is", "that")
GOPHER_MIN_STOP_HITS = 2
#: max single-token share: 8·max_count ≤ word_count  (≤ 12.5%) — the
#: fixture-scale analog of Gopher's top-n-gram character-fraction caps.
GOPHER_REP_DEN = 8

_SQL_STOPLIST = ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)


def gopher_rule_flags(d: DataFrame, keep: list[str]) -> DataFrame:
    """(keep…, wc_ok, mwl_ok, stop_ok, rep_ok) 0/1 flags for each
    document in `d` (any relation with a `text` column) — the rule
    projection shared by the batch audit (`pipeline_gopher_quality_rules`)
    and the streaming quality gate (streaming/quality.py), so the two
    tiers can never disagree on a verdict.

    All four rules evaluate IN-ROW with higher-order array functions (one
    codegen'd projection; the repetition mode scan is O(wc²) per doc with
    wc bounded by the document, not the corpus)."""
    ws = tokens()
    base = d.select(*keep, ws.alias("ws"))
    wc = F.size("ws")
    chars = F.aggregate(
        F.transform("ws", F.length), F.lit(0), lambda a, x: a + x
    )
    stop_hits = F.size(F.filter("ws", lambda w: w.isin(*GOPHER_STOPWORDS)))
    max_tok = F.array_max(
        F.transform(
            F.array_distinct("ws"),
            lambda dtok: F.size(F.filter("ws", lambda w: w == dtok)),
        )
    )
    ok = lambda c: F.when(c, 1).otherwise(0)  # noqa: E731
    return base.select(
        *keep,
        ok(wc.between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)).alias("wc_ok"),
        ok(
            (chars >= GOPHER_MIN_MWL * wc) & (chars <= GOPHER_MAX_MWL * wc)
        ).alias("mwl_ok"),
        ok(stop_hits >= GOPHER_MIN_STOP_HITS).alias("stop_ok"),
        ok(GOPHER_REP_DEN * max_tok <= wc).alias("rep_ok"),
    )

def _sql_rule_flags(keep: str) -> str:
    """The d/m/r CTE chain computing the four 0/1 rule flags at document
    grain, carrying the `keep` column list through — the SQL twin of
    `gopher_rule_flags`, shared by the per-source matrix oracle and the
    ablation-curve oracle (wave18)."""
    return f"""d AS (
  SELECT {keep}, {tokens_sql()} AS ws FROM documents),
m AS (
  SELECT {keep},
         len(ws) AS wc,
         list_sum(list_transform(ws, w -> len(w))) AS chars,
         len(list_filter(ws, w -> w IN ({_SQL_STOPLIST}))) AS stop_hits,
         list_max(list_transform(list_distinct(ws),
                  d -> len(list_filter(ws, w -> w = d)))) AS max_tok
  FROM d),
r AS (
  SELECT {keep}, wc,
         CASE WHEN wc BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
              THEN 1 ELSE 0 END AS wc_ok,
         CASE WHEN chars >= {GOPHER_MIN_MWL} * wc
               AND chars <= {GOPHER_MAX_MWL} * wc THEN 1 ELSE 0 END AS mwl_ok,
         CASE WHEN stop_hits >= {GOPHER_MIN_STOP_HITS} THEN 1 ELSE 0 END
           AS stop_ok,
         CASE WHEN {GOPHER_REP_DEN} * max_tok <= wc THEN 1 ELSE 0 END
           AS rep_ok
  FROM m)"""


_GOPHER_ORACLE = f"""
WITH {_sql_rule_flags("source")}
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(wc_ok) AS BIGINT) AS n_wordcount_ok,
       CAST(sum(mwl_ok) AS BIGINT) AS n_meanwordlen_ok,
       CAST(sum(stop_ok) AS BIGINT) AS n_stopword_ok,
       CAST(sum(rep_ok) AS BIGINT) AS n_repetition_ok,
       CAST(sum(wc_ok * mwl_ok * stop_ok * rep_ok) AS BIGINT) AS n_all_pass,
       CAST((sum(wc_ok * mwl_ok * stop_ok * rep_ok) * {MICRO}) // count(*)
            AS BIGINT) AS all_pass_ppm
FROM r GROUP BY source
"""


@query("pipeline_gopher_quality_rules", oracle=_GOPHER_ORACLE)
def pipeline_gopher_quality_rules(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Gopher rule-based quality filter as a per-source audit matrix:
    word-count bounds, mean-word-length bounds, minimum stop-word hits,
    and a max-single-token-share repetition cap — each rule's pass count
    per source plus the all-rules pass rate, the report a curation run
    reads before committing thresholds (Rae et al. 2021 §A1.1; see the
    parameter block for the fixture-scale retuning).

    Exactness: the two ratio rules are integer cross-multiplications
    (chars ∈ [4·wc, 6·wc]; 8·max_tok ≤ wc) so no division ever happens;
    everything else is integer counts.

    Scale: every rule evaluates IN-ROW with higher-order array functions
    (one codegen'd projection over the scan — the repetition mode scan is
    O(wc²) per doc on ≤ 100-token fixtures and stays in-row at any corpus
    size since wc is capped by the document, not the corpus); the only
    shuffle is the sources-bounded final aggregate."""
    d = load_table(spark, sf_dir, "documents")
    r = gopher_rule_flags(d, keep=["source"])
    allp = F.col("wc_ok") * F.col("mwl_ok") * F.col("stop_ok") * F.col("rep_ok")
    return (
        r.withColumn("all_ok", allp)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("wc_ok").cast("long").alias("n_wordcount_ok"),
            F.sum("mwl_ok").cast("long").alias("n_meanwordlen_ok"),
            F.sum("stop_ok").cast("long").alias("n_stopword_ok"),
            F.sum("rep_ok").cast("long").alias("n_repetition_ok"),
            F.sum("all_ok").cast("long").alias("n_all_pass"),
            F.expr(f"(sum(all_ok) * {MICRO}) div count(*)")
            .cast("long")
            .alias("all_pass_ppm"),
        )
    )


# --------------------------------------------------------------------------
# UniMax language-budget allocation (epoch-capped water filling)
# --------------------------------------------------------------------------
#: Training budget as a fraction of the corpus (numerator/denominator —
#: kept integer so the budget itself is exact), and the per-language
#: epoch cap (UniMax's N: no language repeats more than N epochs).
UNIMAX_BUDGET_NUM, UNIMAX_BUDGET_DEN = 3, 2
UNIMAX_EPOCH_CAP = 2

_UNIMAX_ORACLE = f"""
WITH RECURSIVE tok AS (
  SELECT lang, unnest({tokens_sql()}) AS w FROM documents),
cnt AS (SELECT lang, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY lang),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS n
        FROM cnt),
base AS (
  SELECT lang, c,
         row_number() OVER (ORDER BY c, lang) AS i,
         (SELECT n FROM tot) AS n,
         (SELECT (t * {UNIMAX_BUDGET_NUM}) // {UNIMAX_BUDGET_DEN} FROM tot)
           AS budget
  FROM cnt),
alloc AS (
  SELECT i, lang, c, n, budget,
         least({UNIMAX_EPOCH_CAP} * c, budget // n) AS a,
         budget - least({UNIMAX_EPOCH_CAP} * c, budget // n) AS rem
  FROM base WHERE i = 1
  UNION ALL
  SELECT b.i, b.lang, b.c, b.n, b.budget,
         least({UNIMAX_EPOCH_CAP} * b.c, al.rem // (b.n - al.i)),
         al.rem - least({UNIMAX_EPOCH_CAP} * b.c, al.rem // (b.n - al.i))
  FROM base b JOIN alloc al ON b.i = al.i + 1)
SELECT lang, c AS lang_tokens, CAST(a AS BIGINT) AS alloc_tokens,
       CAST((a * {MICRO}) // c AS BIGINT) AS epochs_micro,
       CAST(CASE WHEN a = {UNIMAX_EPOCH_CAP} * c THEN 1 ELSE 0 END AS INT)
         AS capped
FROM alloc
"""


@query("pipeline_unimax_mixing", oracle=_UNIMAX_ORACLE)
def pipeline_unimax_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax language sampling: allocate a token budget over languages
    by water filling under an epoch cap — visit languages in ascending
    token count; each takes min(cap·tokens, remaining_budget/remaining_
    languages) — the allocation that maximizes the minimum share without
    repeating any low-resource language past the cap (Chung et al. 2023;
    the principled successor to the √-temperature weights of
    `pipeline_source_mixing_weights`).

    The fold is SEQUENTIAL in the language order (each step's fair share
    depends on what earlier languages drained), so per the repo's
    |model|²-bounded fixed-point policy (events_markov_attribution
    precedent) it runs driver-side over the collected languages-bounded
    count relation — ONE distributed token pass, then O(langs) integer
    arithmetic; the oracle replays the identical integer fold as a
    recursive CTE.  All quantities are integers (budget = tokens·1/2,
    shares by integer division), so both engines agree exactly."""
    tok = load_table(spark, sf_dir, "documents").select(
        "lang", F.explode(tokens()).alias("w")
    )
    cnt = tok.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("c"))
    found = collect.collect_bounded(cnt, collect.MAX_LANGUAGES, "pipeline_unimax_mixing")
    rows = sorted((r.lang, r.c) for r in found)
    rows.sort(key=lambda lc: (lc[1], lc[0]))
    total = sum(c for _, c in rows)
    budget = (total * UNIMAX_BUDGET_NUM) // UNIMAX_BUDGET_DEN
    out = []
    remaining, n = budget, len(rows)
    for i, (lang, c) in enumerate(rows):
        share = remaining // (n - i)
        a = min(UNIMAX_EPOCH_CAP * c, share)
        remaining -= a
        out.append(
            (
                lang,
                c,
                a,
                (a * MICRO) // c,
                1 if a == UNIMAX_EPOCH_CAP * c else 0,
            )
        )
    return spark.createDataFrame(
        out,
        "lang string, lang_tokens long, alloc_tokens long, "
        "epochs_micro long, capped int",
    )


# --------------------------------------------------------------------------
# MinHash LSH band-configuration sweep
# --------------------------------------------------------------------------
#: Swept plans over the shared 64-slot signature: (bands, rows-per-band).
BAND_SWEEP = ((8, 8), (16, 4), (32, 2))
#: Ground-truth threshold: exact shingle Jaccard ≥ 1/2 is a "true" pair
#: (the 16×4 default's S-curve midpoint — dedup_minhash_lsh's own τ).
SWEEP_JACCARD_NUM, SWEEP_JACCARD_DEN = 1, 2
#: The S-curve midpoint (1/b)^(1/r) per plan, micro-scaled — computed
#: ONCE in Python and injected as literals into BOTH engines (pow is not
#: correctly rounded, so neither engine computes it).
_SWEEP_THRESH_MICRO = {
    (b, r): round((1.0 / b) ** (1.0 / r) * MICRO) for b, r in BAND_SWEEP
}


def _band_sweep_oracle() -> str:
    from iceberg_table_generator_spark.operators.dedup import (
        MH_A,
        MH_B,
        MH_P,
        N_PERM,
    )

    # shingle + signature CTEs: the dedup_minhash_lsh oracle idiom
    # (`_SQL_BANDS_CTE`), kept in the long (doc_id, i, m) layout so each
    # swept plan re-bands the SAME signatures with its own i // r cut;
    # the band key is the identical base-31 fold (`_band_fold` twin).
    perms = ", ".join(f"({i}, {MH_A[i]}, {MH_B[i]})" for i in range(N_PERM))
    cand_parts = []
    for b, r in BAND_SWEEP:
        band = f"""(SELECT doc_id, i // {r} AS band_id,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                                        list(m ORDER BY i)),
                           (acc, x) -> (acc * 31 + x) % {MH_P}) AS bk
        FROM mh GROUP BY doc_id, i // {r})"""
        cand_parts.append(
            f"""
  SELECT {b} AS n_bands, {r} AS rows_per_band,
         x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM {band} x
  JOIN {band} y
    ON x.band_id = y.band_id AND x.bk = y.bk AND x.doc_id < y.doc_id"""
        )
    cands = "\n  UNION ALL".join(cand_parts)
    thresh_vals = ", ".join(
        f"({b}, {r}, {_SWEEP_THRESH_MICRO[(b, r)]})" for b, r in BAND_SWEEP
    )
    jn, jd = SWEEP_JACCARD_NUM, SWEEP_JACCARD_DEN
    return f"""
WITH tok AS (
  SELECT doc_id, {tokens_sql()} AS ws FROM documents),
docs AS (
  SELECT doc_id, {shingles_sql("ws", 3)} AS sset FROM tok WHERE len(ws) >= 3),
sh AS (
  SELECT doc_id, {md5_60_sql("s.s")} % {MH_P} AS h
  FROM docs, unnest(sset) AS s(s)),
perms AS (SELECT * FROM (VALUES {perms}) t(i, a, b)),
mh AS (
  SELECT doc_id, p.i, min((p.a * h + p.b) % {MH_P}) AS m
  FROM sh CROSS JOIN perms p GROUP BY doc_id, p.i),
cand AS (SELECT DISTINCT * FROM ({cands})),
pairs AS (SELECT DISTINCT doc_a, doc_b FROM cand),
cnt AS (SELECT doc_id, CAST(len(sset) AS BIGINT) AS n FROM docs),
jac AS (
  SELECT p.doc_a, p.doc_b,
         CAST(len(list_intersect(a.sset, b.sset)) AS BIGINT) AS shared,
         ca.n + cb.n - len(list_intersect(a.sset, b.sset)) AS uni
  FROM pairs p
  JOIN docs a ON a.doc_id = p.doc_a
  JOIN docs b ON b.doc_id = p.doc_b
  JOIN cnt ca ON ca.doc_id = p.doc_a
  JOIN cnt cb ON cb.doc_id = p.doc_b),
truth AS (
  SELECT doc_a, doc_b FROM jac WHERE shared * {jd} >= uni * {jn}),
tt AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth),
th(n_bands, rows_per_band, thresh_micro) AS (VALUES {thresh_vals}),
per AS (
  SELECT c.n_bands, c.rows_per_band,
         CAST(count(*) AS BIGINT) AS n_candidates,
         CAST(sum(CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_true_found
  FROM cand c LEFT JOIN truth t
    ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
  GROUP BY c.n_bands, c.rows_per_band)
SELECT p.n_bands, p.rows_per_band,
       CAST(th.thresh_micro AS BIGINT) AS thresh_micro,
       p.n_candidates, p.n_true_found,
       CAST(tt.n_truth AS BIGINT) AS n_truth,
       CAST((p.n_true_found * {MICRO}) // p.n_candidates AS BIGINT)
         AS precision_ppm,
       CAST(CASE WHEN tt.n_truth = 0 THEN {MICRO}
                 ELSE (p.n_true_found * {MICRO}) // tt.n_truth END AS BIGINT)
         AS recall_ppm
FROM per p
JOIN th ON th.n_bands = p.n_bands AND th.rows_per_band = p.rows_per_band
CROSS JOIN tt
"""


@query("dedup_minhash_band_sweep", oracle=_band_sweep_oracle())
def dedup_minhash_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH banding-plan sweep: candidate volume, precision, and
    recall of the 8×8 / 16×4 / 32×2 plans over the SAME 64-slot
    signature, against exact-Jaccard ≥ 1/2 truth — the planning query a
    100 TB dedup run executes on a sample BEFORE committing a banding
    (more bands ⟹ lower S-curve midpoint ⟹ more candidates, higher
    recall, lower precision; this emits the measured trade-off next to
    each plan's analytic (1/b)^(1/r) midpoint).  The τ-sweep idiom
    (`dedup_semdedup_tau_sweep`) applied to the lexical tier.

    Truth is banding-reachable truth: exact Jaccard evaluated on the
    UNION of all swept plans' candidates (the 8×8 plan's ≈ 0.77 midpoint
    means the union is a strict superset of every plan's own reach —
    standard sweep practice; all-pairs truth would be the O(n²) join the
    family exists to avoid).  Integer exactness: the Jaccard cut is a
    cross-multiplication (shared·2 ≥ union·1), precision/recall are
    micro-integer divisions, and the pow-derived midpoints are Python
    literals injected into both engines.

    Scale: ONE signature pass (the shared 64-minima aggregation), ONE
    self-join over all three plans' stacked band keys (the plan id is in
    the join key, so buckets never mix across plans and candidate volume
    is bounded by each plan's own bucket sizes — r13 fused the three
    per-plan joins into one exchange), and exact verify only on the
    union candidate set."""
    from iceberg_table_generator_spark.operators.dedup import (
        _band_fold,
        MH_P,
        minhash_signatures,
    )

    # NOT persisted: the shingle arrays are the corpus's full text re-cut —
    # a DISK_ONLY round-trip of them costs more than the in-row
    # tokenize→shingle recompute on each of the three uses (measured r13:
    # the persist was 2.7 s of the 4.66 s pin; `dedup_minhash_lsh` made the
    # same call).  Only the compact relations (signatures, candidates) are
    # persisted.
    d = spread(load_table(spark, sf_dir, "documents")).withColumn("tokens", tokens())
    d = d.withColumn("shingles", shingles("tokens", 3))
    sset = d.select("doc_id", F.array_distinct("shingles").alias("sset"))
    sh = sset.select(
        "doc_id",
        F.explode(F.transform("sset", lambda s: md5_60(s) % MH_P)).alias("h"),
    )
    sig = minhash_signatures(sh).transform(persist_tracked)
    # Eager materialization (r13): the final plan reads `sig` from several
    # parallel branches (the band stack, via cand, twice more via verify);
    # within ONE job Spark may schedule those branches concurrently and
    # compute a persisted-but-unmaterialized relation more than once.  One
    # cheap count pins the signature pass to exactly one execution — the
    # same contract as the CC iteration's eager localCheckpoint
    # (dedup.py:344).
    sig.count()

    # ALL three plans' band keys in ONE stacked relation and ONE self-join
    # (r13, the 4 s protocol): the join key (n_bands, band_id, band_hash)
    # already identifies the plan, so one exchange + one sort-merge join
    # replaces three of each — 8+16+32 = 56 rows per doc in one stack.
    stack_args = []
    for b, r in BAND_SWEEP:
        for bb in range(b):
            key = _band_fold([F.col(f"mh_{bb * r + i}") for i in range(r)])
            stack_args.append((F.lit(b), F.lit(r), F.lit(bb), key))
    rows = F.array(
        *[
            F.struct(
                b.alias("n_bands"),
                r.alias("rows_per_band"),
                bb.alias("band_id"),
                key.alias("band_hash"),
            )
            for b, r, bb, key in stack_args
        ]
    )
    bands = sig.select("doc_id", F.explode(rows).alias("e")).select(
        "doc_id", "e.n_bands", "e.rows_per_band", "e.band_id", "e.band_hash"
    )
    x, y = bands.alias("x"), bands.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.n_bands") == F.col("y.n_bands"))
            & (F.col("x.band_id") == F.col("y.band_id"))
            & (F.col("x.band_hash") == F.col("y.band_hash"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.n_bands").alias("n_bands"),
            F.col("x.rows_per_band").alias("rows_per_band"),
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    cand = persist_tracked(cand)
    cand.count()  # same eager-pin rationale as `sig` above (read 3×)

    pairs = cand.select("doc_a", "doc_b").distinct()
    sa = sset.select(F.col("doc_id").alias("doc_a"), F.col("sset").alias("sa"))
    sb = sset.select(F.col("doc_id").alias("doc_b"), F.col("sset").alias("sb"))
    jn, jd = SWEEP_JACCARD_NUM, SWEEP_JACCARD_DEN
    jac = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sa", "sb")).cast("long").alias("shared"),
            (
                F.size("sa") + F.size("sb") - F.size(F.array_intersect("sa", "sb"))
            )
            .cast("long")
            .alias("uni"),
        )
    )
    truth = jac.filter(F.col("shared") * jd >= F.col("uni") * jn).select(
        "doc_a", "doc_b", F.lit(1).alias("is_true")
    )
    truth = persist_tracked(truth)
    truth.count()  # eager-pin: read by n_truth AND the per-plan join
    n_truth = truth.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_truth")
    )
    per = (
        cand.join(truth, ["doc_a", "doc_b"], "left")
        .groupBy("n_bands", "rows_per_band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_candidates"),
            F.sum(F.coalesce("is_true", F.lit(0))).cast("long").alias(
                "n_true_found"
            ),
        )
    )
    th = spark.createDataFrame(
        [(b, r, _SWEEP_THRESH_MICRO[(b, r)]) for b, r in BAND_SWEEP],
        "n_bands int, rows_per_band int, thresh_micro long",
    )
    return (
        per.join(F.broadcast(th), ["n_bands", "rows_per_band"])
        .crossJoin(F.broadcast(n_truth))
        .select(
            "n_bands",
            "rows_per_band",
            "thresh_micro",
            "n_candidates",
            "n_true_found",
            "n_truth",
            F.expr(f"(n_true_found * {MICRO}) div n_candidates")
            .cast("long")
            .alias("precision_ppm"),
            F.expr(
                f"CASE WHEN n_truth = 0 THEN {MICRO} "
                f"ELSE (n_true_found * {MICRO}) div n_truth END"
            )
            .cast("long")
            .alias("recall_ppm"),
        )
    )
