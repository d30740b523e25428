"""Round-12 sixth wave: threshold-tuning curves over the round's new
operators — the knobs a steward turns before committing a policy.

* **Quality ablation curve** — retention (docs AND tokens) when keeping
  documents that pass at least r of the four Gopher rules, r = 0..4:
  the strictness dial for `pipeline_gopher_quality_rules` (keep-all vs
  all-rules is a 2-point view; the curve shows where retention falls
  off a cliff).  Shares the rule projection with the batch audit and
  the streaming gate, so all three tiers agree by construction.
* **Per-language SemDeDup τ sweep** — `dedup_semdedup_tau_sweep`
  (corpus-level) × `dedup_semdedup_by_lang` (fixed τ) composed: the
  drop rate per (language, τ) cell, the multilingual tuning surface
  that shows WHICH language a tighter τ starts over-pruning first
  (the LAION/CCNet per-language calibration question).
* **BQ + exact rerank recall** — the production shape of the 1-bit
  tier: `similarity_bq_recall` measures the raw sign-ADC ranking
  (cheap, recall-poor); real deployments use BQ as a PREFILTER and
  rerank a shortlist exactly (RaBitQ's own evaluation protocol).  This
  measures that two-stage recall, completing the tier the way PQ
  already has ADC+rerank.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from iceberg_table_generator_spark.functions.text import tokens
from iceberg_table_generator_spark.registry import query
from iceberg_table_generator_spark.sources.tables import load_table, spread

_MICRO = 1_000_000

# --------------------------------------------------------------------------
# Gopher-rule ablation curve (retention at min-rules r = 0..4)
# --------------------------------------------------------------------------


def _ablation_curve_oracle() -> str:
    from iceberg_table_generator_spark.operators.wave14 import (
        _sql_rule_flags,
    )

    return f"""
WITH {_sql_rule_flags("doc_id")},
sc AS (
  SELECT doc_id, wc, wc_ok + mwl_ok + stop_ok + rep_ok AS n_pass FROM r),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(wc) AS BIGINT) AS n_tokens
  FROM sc),
grid(min_rules) AS (VALUES (0), (1), (2), (3), (4))
SELECT CAST(g.min_rules AS INT) AS min_rules,
       CAST(sum(CASE WHEN sc.n_pass >= g.min_rules THEN 1 ELSE 0 END)
            AS BIGINT) AS docs_kept,
       CAST(sum(CASE WHEN sc.n_pass >= g.min_rules THEN sc.wc ELSE 0 END)
            AS BIGINT) AS tokens_kept,
       CAST((sum(CASE WHEN sc.n_pass >= g.min_rules THEN 1 ELSE 0 END)
             * {_MICRO}) // any_value(tot.n_docs) AS BIGINT) AS doc_keep_ppm,
       CAST((sum(CASE WHEN sc.n_pass >= g.min_rules THEN sc.wc ELSE 0 END)
             * {_MICRO}) // any_value(tot.n_tokens) AS BIGINT)
         AS token_keep_ppm
FROM grid g CROSS JOIN sc CROSS JOIN tot
GROUP BY g.min_rules
"""


@query("pipeline_quality_ablation_curve", oracle=_ablation_curve_oracle())
def pipeline_quality_ablation_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quality-filter strictness curve: documents and tokens retained
    when keeping everything that passes AT LEAST r of the four Gopher
    rules, for r = 0..4 — the dial `pipeline_gopher_quality_rules`'
    all-or-nothing verdict hides (a steward picks the knee of this
    curve, not a boolean).  Token retention is reported next to doc
    retention because the rules are length-correlated: the word-count
    rule removes long docs' tokens disproportionately.

    The rule projection is the SHARED `gopher_rule_flags` (batch audit,
    streaming gate, and this curve can never disagree); the grid is a
    5-row literal; all arithmetic is integer counts and micro division.

    Scale: one in-row rule pass, one 5-row broadcast grid join, 5-row
    output."""
    from iceberg_table_generator_spark.operators.wave14 import (
        gopher_rule_flags,
    )

    d = load_table(spark, sf_dir, "documents")
    flags = gopher_rule_flags(d, keep=["doc_id"])
    wc = d.select("doc_id", F.size(tokens()).alias("wc"))
    sc = flags.join(wc, "doc_id").select(
        "wc",
        (
            F.col("wc_ok") + F.col("mwl_ok") + F.col("stop_ok") + F.col("rep_ok")
        ).alias("n_pass"),
    )
    grid = spark.createDataFrame([(r,) for r in range(5)], "min_rules int")
    tot = sc.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("wc").cast("long").alias("n_tokens"),
    )
    keep = F.when(F.col("n_pass") >= F.col("min_rules"), 1).otherwise(0)
    kept_wc = F.when(
        F.col("n_pass") >= F.col("min_rules"), F.col("wc")
    ).otherwise(0)
    return (
        sc.crossJoin(F.broadcast(grid))
        .select("min_rules", keep.alias("k"), kept_wc.alias("kw"))
        .groupBy("min_rules")
        .agg(
            F.sum("k").cast("long").alias("docs_kept"),
            F.sum("kw").cast("long").alias("tokens_kept"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "min_rules",
            "docs_kept",
            "tokens_kept",
            F.expr(f"(docs_kept * {_MICRO}) div n_docs")
            .cast("long")
            .alias("doc_keep_ppm"),
            F.expr(f"(tokens_kept * {_MICRO}) div n_tokens")
            .cast("long")
            .alias("token_keep_ppm"),
        )
    )


# --------------------------------------------------------------------------
# Per-language SemDeDup τ sweep
# --------------------------------------------------------------------------


def _lang_tau_sweep_oracle() -> str:
    from iceberg_table_generator_spark.operators.similarity import _VEC_DIM
    from iceberg_table_generator_spark.operators.wave11 import (
        _sql_semdedup_ctes,
        _TAU_VALUES_SQL,
    )

    return f"""{_sql_semdedup_ctes()},
vmax AS (
  SELECT v.vec_id,
         max(list_sum(list_transform(generate_series(1, {_VEC_DIM}),
                                     i -> u.vec[i] * v.vec[i]))
             / (u.nrm * v.nrm)) AS mx
  FROM m u JOIN m v ON u.cid = v.cid
   AND (u.ccos < v.ccos OR (u.ccos = v.ccos AND u.vec_id < v.vec_id))
  GROUP BY v.vec_id),
lm AS (
  SELECT m.vec_id, d.lang FROM m JOIN documents d ON d.doc_id = m.vec_id),
lc AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM lm GROUP BY lang),
taus(tau_micro) AS (VALUES {_TAU_VALUES_SQL}),
drops AS (
  SELECT lm.lang, t.tau_micro, CAST(count(*) AS BIGINT) AS n_dropped
  FROM vmax x
  JOIN lm ON lm.vec_id = x.vec_id
  CROSS JOIN taus t
  WHERE x.mx >= t.tau_micro / 1000000.0
  GROUP BY lm.lang, t.tau_micro)
SELECT l.lang, CAST(t.tau_micro AS BIGINT) AS tau_micro,
       CAST(coalesce(d.n_dropped, 0) AS BIGINT) AS n_dropped,
       l.n AS n_members,
       CAST((coalesce(d.n_dropped, 0) * {_MICRO}) // l.n AS BIGINT)
         AS drop_ppm
FROM lc l
CROSS JOIN taus t
LEFT JOIN drops d ON d.lang = l.lang AND d.tau_micro = t.tau_micro
"""


@query("dedup_semdedup_lang_tau_sweep", oracle=_lang_tau_sweep_oracle())
def dedup_semdedup_lang_tau_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SemDeDup drop rate per (language, τ) — the multilingual tuning
    SURFACE behind the corpus-level τ sweep: a τ tuned on the aggregate
    curve famously over-prunes languages whose embeddings cluster
    tighter; this shows which language a tighter τ starts eating first,
    BEFORE anyone commits a threshold (the per-language calibration
    step of LAION/CCNet-class multilingual pipelines).

    Composition: the τ-free per-victim max prior cosine
    (`_semdedup_prior_pairs` aggregated once — drop at τ ⟺ that max
    clears τ, the registered sweep's own device), attributed by the
    id-aligned lang column, cut by the SAME τ grid as the corpus sweep
    (micro-int thresholds, bit-identical comparison doubles).

    Scale: ONE pair pass (shared shape with the whole SemDeDup family),
    a vector-count-sized vmax relation, and a langs × |τ grid| bounded
    output."""
    from iceberg_table_generator_spark.operators.wave11 import (
        _semdedup_prior_pairs,
        _semdedup_relation,
        SEMDEDUP_TAU_GRID,
    )
    from iceberg_table_generator_spark.operators.wave13 import _lang_of_vec

    m = _semdedup_relation(spark, sf_dir)
    vmax = (
        _semdedup_prior_pairs(m)
        .groupBy(F.col("v_id").alias("vec_id"))
        .agg(F.max("sim").alias("mx"))
    )
    lang = _lang_of_vec(spark, sf_dir)
    lm = m.select("vec_id").join(lang, "vec_id")
    lc = lm.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("n"))
    taus = spark.createDataFrame(
        [(t,) for t in SEMDEDUP_TAU_GRID], "tau_micro long"
    )
    drops = (
        vmax.join(lm, "vec_id")
        .crossJoin(F.broadcast(taus))
        .filter(F.col("mx") >= F.col("tau_micro") / 1000000.0)
        .groupBy("lang", "tau_micro")
        .agg(F.count(F.lit(1)).cast("long").alias("n_dropped"))
    )
    return (
        lc.crossJoin(F.broadcast(taus))
        .join(drops, ["lang", "tau_micro"], "left")
        .select(
            "lang",
            "tau_micro",
            F.coalesce("n_dropped", F.lit(0)).cast("long").alias("n_dropped"),
            F.col("n").alias("n_members"),
            F.expr(f"(coalesce(n_dropped, 0) * {_MICRO}) div n")
            .cast("long")
            .alias("drop_ppm"),
        )
    )


# --------------------------------------------------------------------------
# BQ prefilter + exact rerank recall (the 1-bit tier's production shape)
# --------------------------------------------------------------------------
#: Shortlist depth for the exact rerank (matches the PQ pipeline's,
#: so the two compressed prefilters are directly comparable).
BQ_SHORTLIST = 50


def _bq_rerank_oracle() -> str:
    from iceberg_table_generator_spark.operators.similarity import (
        _VEC_DIM,
        N_QUERIES,
        TOP_K,
    )

    dim = _VEC_DIM
    sgn_dot = (
        f"list_sum(list_transform(generate_series(1, {dim}), "
        "i -> (CASE WHEN c.vec[i] >= 0 THEN 1.0 ELSE -1.0 END) * q.vec[i]))"
    )
    xdot = (
        f"list_sum(list_transform(generate_series(1, {dim}), "
        "i -> q.vec[i] * c.vec[i]))"
    )
    return f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
n AS (
  SELECT vec_id, vec,
         sqrt(list_sum(list_transform(generate_series(1, {dim}),
                                      i -> vec[i] * vec[i]))) AS norm
  FROM v),
apx AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {sgn_dot} AS score
  FROM n q JOIN n c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < {N_QUERIES}),
short AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, neighbor_id) AS rn
    FROM apx) WHERE rn <= {BQ_SHORTLIST}),
rer AS (
  SELECT s.query_id, s.neighbor_id,
         {xdot.replace('q.vec', 'qn.vec').replace('c.vec', 'cn.vec')}
           / (qn.norm * cn.norm) AS sim
  FROM short s
  JOIN n qn ON qn.vec_id = s.query_id
  JOIN n cn ON cn.vec_id = s.neighbor_id),
apk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY sim DESC, neighbor_id) AS rn
    FROM rer) WHERE rn <= {TOP_K}),
ext AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {xdot} / (q.norm * c.norm) AS sim
  FROM n q JOIN n c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < {N_QUERIES}),
epk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY sim DESC, neighbor_id) AS rn
    FROM ext) WHERE rn <= {TOP_K}),
hits AS (
  SELECT e.query_id, CAST(count(a.neighbor_id) AS BIGINT) AS n_hits
  FROM epk e LEFT JOIN apk a
    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
  GROUP BY e.query_id)
SELECT query_id, CAST({TOP_K} AS INT) AS k, n_hits,
       CAST((n_hits * {_MICRO}) // {TOP_K} AS BIGINT) AS recall_ppm
FROM hits
"""


@query("similarity_bq_rerank_recall", oracle=_bq_rerank_oracle())
def similarity_bq_rerank_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BQ prefilter + exact rerank recall@k — the 1-bit tier's production
    shape: the sign-pattern ADC ranks cheaply (8 bytes/vector scanned),
    the top-{BQ_SHORTLIST} shortlist reranks with exact cosine, and
    per-query recall vs exact is reported.  `similarity_bq_recall`
    measures the raw ADC ranking (the floor); deployments always rerank
    (RaBitQ's own protocol), and the DELTA between the two queries is
    the rerank's value — the same two-stage story `similarity_pq_topk`
    tells at 4 bits, at matched shortlist depth so the tiers compare
    directly.

    Exactness: sign test + integer-free shared double folds, ties on
    neighbor_id; recall is an exact integer.  Scale: the ADC scan never
    shuffles; the rerank fetches full vectors for shortlist rows only;
    rank windows are (n_queries × shortlist)-bounded."""
    from iceberg_table_generator_spark.operators.similarity import (
        _dot,
        N_QUERIES,
        similarity_cosine_topk,
        TOP_K,
        with_norm,
    )

    emb = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    cand = with_norm(emb).withColumn(
        "sv",
        F.transform("vec", lambda x: F.when(x >= 0, 1.0).otherwise(-1.0)),
    )
    qry = with_norm(emb.filter(F.col("vec_id") < N_QUERIES)).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("norm").alias("qnorm"),
    )
    apx = (
        cand.crossJoin(F.broadcast(qry))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "qvec",
            "qnorm",
            F.col("vec_id").alias("neighbor_id"),
            "vec",
            "norm",
            _dot("sv", "qvec").alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    shortlist = apx.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= BQ_SHORTLIST
    )
    sim = (_dot("qvec", "vec") / (F.col("qnorm") * F.col("norm"))).alias("sim")
    w2 = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    apk = (
        shortlist.select("query_id", "neighbor_id", sim)
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id")
    )
    epk = similarity_cosine_topk(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    hits = (
        epk.alias("e")
        .join(
            apk.alias("a"),
            (F.col("e.query_id") == F.col("a.query_id"))
            & (F.col("e.neighbor_id") == F.col("a.neighbor_id")),
            "left",
        )
        .groupBy(F.col("e.query_id").alias("query_id"))
        .agg(F.count(F.col("a.neighbor_id")).cast("long").alias("n_hits"))
    )
    return hits.select(
        "query_id",
        F.lit(TOP_K).cast("int").alias("k"),
        "n_hits",
        F.expr(f"CAST((n_hits * {_MICRO}) div {TOP_K} AS BIGINT)").alias(
            "recall_ppm"
        ),
    )
