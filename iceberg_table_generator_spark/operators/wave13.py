"""Round-12 wave: per-language semantic-dedup attribution (r11 verdict
#4).

**Cross-lingual SemDeDup** — the curation question LAION/CCNet-class
pipelines actually ask of a semantic dedup pass: which languages
duplicate, into which clusters, and who shadows whom across language
boundaries (translated boilerplate is exactly the duplicate class only
the embedding tier can see).  All three queries COMPOSE the registered
SemDeDup relations (`semdedup_relation`, `_semdedup_dropped`, the
shadow map) with the documents table's `lang` column — no second
clustering, no second pair join; the synthetic corpus aligns `vec_id`
with `doc_id` (each embeddings row is the encoder output of the
same-id document — a production pipeline carries the document id
through the encoder the same way).

Reference parity note: the reference repo is a table generator with no
retrieval or dedup surface (`IcebergTableGenerator.java` writes rows,
never reads them back); this module extends SURVEY.md §2.8's
LLM-pipeline mandate.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from iceberg_table_generator_spark.operators.relational import MICRO
from iceberg_table_generator_spark.registry import query
from iceberg_table_generator_spark.sources.tables import load_table


# --------------------------------------------------------------------------
# SemDeDup k-scaling probe (shared by the property test and SCALING.md)
# --------------------------------------------------------------------------
_KSCALE_DIM = 8


def _synth_emb(spark: SparkSession, n: int) -> DataFrame:
    """(vec_id, vec): deterministic integer-hash vectors in [-0.5, 0.5) —
    no RNG (Date.now/random are banned in harness paths), uniform enough
    that k-means clusters stay near-balanced, so the measured Σ cᵢ²
    reflects the k ∝ √N law rather than fixture skew."""
    comps = [
        (
            (
                (F.col("vec_id") * F.lit(2654435761 + 97 * i) + F.lit(40503 * i))
                % F.lit(100003)
            ).cast("double")
            / 100003.0
            - 0.5
        )
        for i in range(_KSCALE_DIM)
    ]
    return spark.range(n).select(
        F.col("id").alias("vec_id"), F.array(*comps).alias("vec")
    )


def semdedup_k_scaling_probe(
    spark: SparkSession, n: int
) -> tuple[int, int, int]:
    """Fit k = round(√n) clusters on the synthetic fixture, assign, and
    return (k, Σ cᵢ², realized prior-pair count) — the empirical backing
    for the family's "k scales with the corpus ⟹ pair work stays
    sub-quadratic" posture (r11 verdict #3).  Asserted against the
    N^1.5 law in tests/test_semdedup_scaling.py; measured values are
    published in SCALING.md §semdedup-k-scaling."""
    import math

    from iceberg_table_generator_spark.operators.similarity import ivf_fit
    from iceberg_table_generator_spark.operators.wave11 import (
        _semdedup_prior_pairs,
        semdedup_members,
    )

    k = int(round(math.sqrt(n)))
    emb = _synth_emb(spark, n)
    cents = ivf_fit(emb, k=k)
    m = semdedup_members(emb, cents).localCheckpoint(eager=True)
    sizes = [
        r["c"] for r in m.groupBy("cid").agg(F.count("*").alias("c")).collect()
    ]
    assert sum(sizes) == n
    sum_c2 = sum(c * c for c in sizes)
    pairs = _semdedup_prior_pairs(m).count()
    assert pairs == sum(c * (c - 1) // 2 for c in sizes), (pairs, sizes)
    return k, sum_c2, pairs


# --------------------------------------------------------------------------
# Per-language SemDeDup verdict rates
# --------------------------------------------------------------------------


def _lang_of_vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, lang): the language of each embedded document — the
    id-aligned documents join (vec_id = doc_id, see module docstring).
    One projected scan; the join downstream is id-co-partitioned."""
    return load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "lang"
    )


def _semdedup_by_lang_oracle() -> str:
    from iceberg_table_generator_spark.operators.wave11 import (
        sql_semdedup_ctes,
    )

    return f"""{sql_semdedup_ctes()},
lm AS (
  SELECT m.vec_id, d.lang,
         CASE WHEN dr.vec_id IS NULL THEN 0 ELSE 1 END AS is_drop
  FROM m
  JOIN documents d ON d.doc_id = m.vec_id
  LEFT JOIN (SELECT DISTINCT vec_id FROM dropped) dr USING (vec_id))
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(sum(is_drop) AS BIGINT) AS n_dropped,
       CAST(count(*) - sum(is_drop) AS BIGINT) AS n_kept,
       CAST((sum(is_drop) * {MICRO}) // count(*) AS BIGINT) AS drop_micro
FROM lm GROUP BY lang
"""


@query("dedup_semdedup_by_lang", oracle=_semdedup_by_lang_oracle())
def dedup_semdedup_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-LANGUAGE SemDeDup verdict rates: how much of each language's
    slice the semantic-dedup pass removes (τ rule of
    `dedup_semdedup_verdict`, attributed by the documents table's lang) —
    the first per-language view of the dedup family, and the number a
    multilingual curation run reads before trusting one global τ (a τ
    tuned on English famously over-prunes low-resource languages whose
    embeddings cluster tighter).

    Composes the registered member/dropped relations (same cluster model,
    same pair join — computed once, reused); the only new work is one
    id-co-partitioned join against a two-column documents projection and
    a languages-bounded aggregate.  Output: one row per language."""
    from iceberg_table_generator_spark.operators.wave11 import (
        _semdedup_dropped,
        semdedup_relation,
    )

    m = semdedup_relation(spark, sf_dir)
    dropped = _semdedup_dropped(m).select(
        "vec_id", F.lit(1).alias("is_drop")
    )
    lm = (
        m.select("vec_id")
        .join(_lang_of_vec(spark, sf_dir), "vec_id")
        .join(dropped, "vec_id", "left")
        .select("lang", F.coalesce("is_drop", F.lit(0)).alias("is_drop"))
    )
    return lm.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.sum("is_drop").cast("long").alias("n_dropped"),
        (F.count(F.lit(1)) - F.sum("is_drop")).cast("long").alias("n_kept"),
        F.expr(f"(sum(is_drop) * {MICRO}) div count(*)")
        .cast("long")
        .alias("drop_micro"),
    )


# --------------------------------------------------------------------------
# Language × cluster contamination matrix
# --------------------------------------------------------------------------


def _semdedup_lang_cluster_oracle() -> str:
    from iceberg_table_generator_spark.operators.wave11 import (
        sql_semdedup_ctes,
    )

    return f"""{sql_semdedup_ctes()},
lm AS (
  SELECT m.cid, m.vec_id, d.lang,
         CASE WHEN dr.vec_id IS NULL THEN 0 ELSE 1 END AS is_drop
  FROM m
  JOIN documents d ON d.doc_id = m.vec_id
  LEFT JOIN (SELECT DISTINCT vec_id FROM dropped) dr USING (vec_id)),
cs AS (SELECT cid, CAST(count(*) AS BIGINT) AS cluster_n FROM lm GROUP BY cid)
SELECT lm.lang, lm.cid,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(sum(lm.is_drop) AS BIGINT) AS n_dropped,
       CAST((count(*) * {MICRO}) // max(cs.cluster_n) AS BIGINT)
         AS cluster_share_micro
FROM lm JOIN cs USING (cid)
GROUP BY lm.lang, lm.cid
"""


@query(
    "dedup_semdedup_lang_cluster_matrix",
    oracle=_semdedup_lang_cluster_oracle(),
)
def dedup_semdedup_lang_cluster_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Language × cluster contamination matrix: which languages land in
    which semantic clusters, each cell with its member count, dropped
    count, and share of the cluster — "which languages duplicate into
    which clusters", the map a curation run reads to find boilerplate
    clusters that swallow many languages at once (navigation chrome,
    cookie banners, machine-translated spam).

    Same composed relations as `dedup_semdedup_by_lang`; the matrix is
    langs × k bounded (the cluster count is a model parameter), so the
    output and every post-join aggregate are trivially small."""
    from iceberg_table_generator_spark.operators.wave11 import (
        _semdedup_dropped,
        semdedup_relation,
    )

    m = semdedup_relation(spark, sf_dir)
    dropped = _semdedup_dropped(m).select(
        "vec_id", F.lit(1).alias("is_drop")
    )
    lm = (
        m.select("cid", "vec_id")
        .join(_lang_of_vec(spark, sf_dir), "vec_id")
        .join(dropped, "vec_id", "left")
        .select(
            "cid", "lang", F.coalesce("is_drop", F.lit(0)).alias("is_drop")
        )
    )
    cs = lm.groupBy("cid").agg(F.count(F.lit(1)).cast("long").alias("cluster_n"))
    return (
        lm.groupBy("lang", "cid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.sum("is_drop").cast("long").alias("n_dropped"),
        )
        .join(cs, "cid")
        .select(
            "lang",
            "cid",
            "n_members",
            "n_dropped",
            F.expr(f"(n_members * {MICRO}) div cluster_n")
            .cast("long")
            .alias("cluster_share_micro"),
        )
    )


# --------------------------------------------------------------------------
# Cross-language shadow attribution (who deduplicates whom)
# --------------------------------------------------------------------------


def _semdedup_cross_lang_oracle() -> str:
    from iceberg_table_generator_spark.operators.wave11 import (
        _semdedup_shadow_oracle,
    )

    return f"""
WITH sm AS ({_semdedup_shadow_oracle()}),
att AS (
  SELECT ds.lang AS shadow_lang, dv.lang AS dropped_lang,
         CAST(round(sm.sim * 1000000.0, 0) AS BIGINT) AS sim_micro
  FROM sm
  JOIN documents ds ON ds.doc_id = sm.shadow_id
  JOIN documents dv ON dv.doc_id = sm.vec_id)
SELECT shadow_lang, dropped_lang,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(sim_micro) AS BIGINT) AS sim_micro_sum
FROM att GROUP BY shadow_lang, dropped_lang
"""


@query("dedup_semdedup_cross_lang_shadow", oracle=_semdedup_cross_lang_oracle())
def dedup_semdedup_cross_lang_shadow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-language shadow attribution: for every SemDeDup drop, the
    language of the exemplar that shadowed it × the language of the
    dropped document — the translated-boilerplate detector (off-diagonal
    cells are documents deduplicated by a DIFFERENT-language exemplar:
    same meaning, different language, exactly what only the embedding
    tier can catch).

    Composes the registered `dedup_semdedup_shadow_map` (one exemplar
    per drop — the attribution contract) with two id-keyed joins against
    the lang projection; output is ≤ langs² rows.  The per-pair cosine
    is the shadow map's own 6-decimal-rounded double (identical on both
    engines), micro-scaled per PAIR to BIGINT before the sum, so the
    aggregate is order-free exact."""
    from iceberg_table_generator_spark.operators.wave11 import (
        dedup_semdedup_shadow_map,
    )

    sm = dedup_semdedup_shadow_map(spark, sf_dir)
    lang = _lang_of_vec(spark, sf_dir)
    att = (
        sm.join(
            lang.select(
                F.col("vec_id").alias("shadow_id"),
                F.col("lang").alias("shadow_lang"),
            ),
            "shadow_id",
        )
        .join(
            lang.select("vec_id", F.col("lang").alias("dropped_lang")),
            "vec_id",
        )
        .select(
            "shadow_lang",
            "dropped_lang",
            F.round(F.col("sim") * 1000000.0, 0)
            .cast("long")
            .alias("sim_micro"),
        )
    )
    return att.groupBy("shadow_lang", "dropped_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("sim_micro").cast("long").alias("sim_micro_sum"),
    )
