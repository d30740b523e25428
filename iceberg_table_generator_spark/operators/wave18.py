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
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from iceberg_table_generator_spark.functions.text import tokens
from iceberg_table_generator_spark.operators.relational import MICRO
from iceberg_table_generator_spark.registry import query
from iceberg_table_generator_spark.sources.tables import load_table


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
             * {MICRO}) // any_value(tot.n_docs) AS BIGINT) AS doc_keep_ppm,
       CAST((sum(CASE WHEN sc.n_pass >= g.min_rules THEN sc.wc ELSE 0 END)
             * {MICRO}) // any_value(tot.n_tokens) AS BIGINT)
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
            F.expr(f"(docs_kept * {MICRO}) div n_docs")
            .cast("long")
            .alias("doc_keep_ppm"),
            F.expr(f"(tokens_kept * {MICRO}) div n_tokens")
            .cast("long")
            .alias("token_keep_ppm"),
        )
    )


# --------------------------------------------------------------------------
# Per-language SemDeDup τ sweep
# --------------------------------------------------------------------------


def _lang_tau_sweep_oracle() -> str:
    from iceberg_table_generator_spark.operators.similarity import VEC_DIM
    from iceberg_table_generator_spark.operators.wave11 import (
        sql_semdedup_ctes,
        _TAU_VALUES_SQL,
    )

    return f"""{sql_semdedup_ctes()},
vmax AS (
  SELECT v.vec_id,
         max(list_sum(list_transform(generate_series(1, {VEC_DIM}),
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
       CAST((coalesce(d.n_dropped, 0) * {MICRO}) // l.n AS BIGINT)
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
        semdedup_relation,
        SEMDEDUP_TAU_GRID,
    )
    from iceberg_table_generator_spark.operators.wave13 import _lang_of_vec

    m = semdedup_relation(spark, sf_dir)
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
            F.expr(f"(coalesce(n_dropped, 0) * {MICRO}) div n")
            .cast("long")
            .alias("drop_ppm"),
        )
    )
