"""Round-11 operator wave: SemDeDup-class SEMANTIC dedup (embedding-
cluster-local near-dup removal — Abbas et al. 2023, "SemDeDup: Data-
efficient learning at web-scale through semantic deduplication") and
SPAN-LEVEL DECONTAMINATION (maximal-span coverage of benchmark text
inside training documents — the island-merge composition of the r10
substring-dedup machinery with the benchmark-contamination check).

The reference is a table generator with no analytics surface
(`IcebergTableGenerator.java` writes rows; it never reads them back) —
these operators extend SURVEY.md §2.8's dedup/curation mandate.

Exactness policy (the repo convention): every cross-row accumulation is
integer; doubles appear only in fixed-order in-row chains shared
verbatim with the oracle (the `similarity_cosine_topk` precedent: Spark
`F.aggregate`/`zip_with` left fold ≡ DuckDB
`list_sum(list_transform(generate_series...))`).  The SemDeDup
clustering is the engine-exact integer k-means
(`operators/similarity.py` block comment), so DuckDB refits the
identical centroids and replays cluster-local dedup end-to-end.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from iceberg_table_generator_spark.functions.cache import persist_tracked
from iceberg_table_generator_spark.operators.wave9 import (
    SPAN_K,
    _span_positions,
    _sql_span_groups,
)
from iceberg_table_generator_spark.operators.wave10 import (
    merge_position_islands,
    with_interval_coverage,
)
from iceberg_table_generator_spark.operators.relational import MICRO
from iceberg_table_generator_spark.registry import query
from iceberg_table_generator_spark.sources.tables import load_table, spread

# --------------------------------------------------------------------------
# SemDeDup: semantic dedup via k-means cluster-local cosine pruning
# --------------------------------------------------------------------------
#: Cosine threshold above which two SAME-CLUSTER vectors are semantic
#: duplicates.  This testdata's near-dup band tops out ≈ 0.51
#: (`dedup.COSINE_DUP_THRESHOLD` rationale), so 0.35 exercises real
#: drops at every SF; production corpora of normalized text embeddings
#: run this at 0.95+.
SEMDEDUP_TAU = 0.35


def semdedup_members(emb: DataFrame, cents) -> DataFrame:
    """Assign (vec_id, vec) rows to the given engine-exact k-means
    centroids → (cid, vec_id, vec, nrm, ccos) — the SemDeDup member
    relation for ANY input relation (the full-corpus queries pass the
    testdata embeddings; the streaming sink passes one micro-batch).
    Assignment is one narrow pass; the centroid attach is a k-row
    literal broadcast."""
    from iceberg_table_generator_spark.operators.similarity import (
        d2_structs_int,
        dot,
        qint,
        centroids_to_float,
        with_norm,
    )

    spark = emb.sparkSession
    cents_df = spark.createDataFrame(
        [(cid, v) for cid, v in centroids_to_float(cents)],
        schema="cid INT, cent ARRAY<DOUBLE>",
    )
    best = F.array_min(d2_structs_int(qint("vec"), cents))
    assigned = with_norm(emb).select(
        "vec_id",
        "vec",
        F.col("norm").alias("nrm"),
        best["cluster_id"].alias("cid"),
    )
    # ccos evaluates as  cdot / (nrm * cnrm)  — the oracle writes the
    # IDENTICAL operation tree, so the doubles agree bit-for-bit.
    return assigned.join(F.broadcast(cents_df), "cid").select(
        "cid",
        "vec_id",
        "vec",
        "nrm",
        (
            dot("vec", "cent")
            / (F.col("nrm") * F.sqrt(dot("cent", "cent")))
        ).alias("ccos"),
    )


def semdedup_relation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cid, vec_id, vec, nrm, ccos): every vector with its k-means
    cluster, norm, and cosine-to-centroid — the shared pre-pair relation
    of the SemDeDup family, persisted because the pair join reads it
    twice (u and v sides) and the summary reads it again.

    Clustering is the SHARED engine-exact integer k-means index
    (`similarity.ivf_index`, same cache key as the IVF/PQ/purity
    queries — a real pipeline builds the cluster model once and serves
    search AND dedup from it)."""
    from iceberg_table_generator_spark.operators.similarity import ivf_index

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    cents = ivf_index(emb, cache_key=sf_dir)
    # spread BEFORE the per-row HOF work: the single-file local scan
    # otherwise runs the 16-centroid × 64-dim assignment fold AND every
    # downstream same-cluster pair dot on ONE task (spread is a no-op at
    # scale — see its docstring); the fit consumes the unspread `emb`
    # (its own TakeOrdered sample is partition-shape-independent).
    return persist_tracked(semdedup_members(spread(emb), cents))


def _semdedup_dropped(m: DataFrame) -> DataFrame:
    """(cid, vec_id) of every DROPPED vector under the SemDeDup rule:
    within a cluster, order members by cosine-to-centroid ASCENDING
    (vec_id tiebreak) — the paper keeps LOW-centroid-similarity
    examples to preserve diversity — and drop v iff ANY earlier u has
    cos(u, v) ≥ τ.  This is the upper-triangular matrix walk of the
    released SemDeDup implementation (prefix dominance, NOT transitive
    greedy: a dropped u still shadows later v — exactly the semantics
    of zeroing the upper triangle row-wise).

    Scale: the pair join is cid-co-partitioned (sort-merge, never
    broadcast of corpus data) and materializes only same-cluster pairs
    — O(Σ c_i²), the algorithm's defining cost; production SemDeDup
    scales k with the corpus (the paper runs k = 50k on LAION) so
    cluster size — and with it pair count per key — stays bounded.

    The prefix-dominance pair relation itself is `_semdedup_prior_pairs`
    (shared with the τ-sweep and shadow map); this is just its τ cut."""
    return (
        _semdedup_prior_pairs(m)
        .filter(F.col("sim") >= SEMDEDUP_TAU)
        .select("cid", F.col("v_id").alias("vec_id"))
        .distinct()
    )


def semdedup_batch_verdict(
    batch_m: DataFrame, seen: DataFrame | None
) -> DataFrame:
    """(cid, vec_id, keep): the streaming SemDeDup decision for one
    micro-batch member relation (`semdedup_members` output) against the
    kept-exemplar store (columns cid, vec_id, vec, nrm; None on the
    first batch).  Rules, in order:

    1. HISTORY — drop v if ANY stored same-cluster exemplar sits within
       cosine τ (the `dedup_semdedup_incremental` probe rule).
    2. IN-BATCH prefix dominance — `_semdedup_dropped` over the batch
       membership (the batch SemDeDup rule: a history-dropped or
       in-batch-dropped u still shadows later v).

    Precondition: `batch_m` carries UNIQUE vec_ids — the keep/drop join
    is keyed on vec_id, so a duplicated vec_id within one batch would
    fan out the join and collapse distinct rows into one verdict.  The
    streaming sink (streaming/semdedup.py) enforces this with a
    dropDuplicates before assignment; callers composing directly must
    do the same.  (Cross-BATCH re-arrivals are fine: a kept exemplar
    re-arriving matches itself in rule 1 at cosine 1.0 ≥ τ.)

    Lives here with the rest of the SemDeDup relational algebra (the
    streaming sink in streaming/semdedup.py is just the store plumbing
    around it), mirroring dedup.near_dedup_batch_verdict."""
    from iceberg_table_generator_spark.operators.similarity import dot

    dropped = _semdedup_dropped(batch_m).select("vec_id")
    if seen is not None:
        u = seen.select(
            "cid",
            F.col("vec").alias("u_vec"),
            F.col("nrm").alias("u_nrm"),
        )
        hist = (
            u.join(batch_m, "cid")
            .filter(
                dot("u_vec", "vec") / (F.col("u_nrm") * F.col("nrm"))
                >= SEMDEDUP_TAU
            )
            .select("vec_id")
        )
        dropped = dropped.union(hist).distinct()
    return batch_m.select("cid", "vec_id").join(
        dropped.withColumn("_drop", F.lit(True)), "vec_id", "left"
    ).select("cid", "vec_id", F.col("_drop").isNull().alias("keep"))


def sql_semdedup_ctes() -> str:
    """DuckDB twin CTE chain ending at `m` (member relation) and
    `dropped`: replays the integer k-means fit (`sql_ivf_fit_ctes`),
    full-corpus assignment, the ccos chain with the IDENTICAL operation
    tree, and the prefix-dominance pair rule."""
    from iceberg_table_generator_spark.operators.similarity import (
        IVF_CLUSTERS,
        IVF_ITERS,
        sql_d2_int,
        sql_ivf_fit_ctes,
        sql_km_setup,
        VEC_DIM,
    )

    dim, cf = VEC_DIM, f"c{IVF_ITERS}"
    cvd = "CAST(c.cv[i] AS DOUBLE)/1000000.0"
    return f"""{sql_km_setup()}{sql_ivf_fit_ctes(IVF_CLUSTERS, IVF_ITERS, dim)},
asg AS (
  SELECT vec_id, vec, cid FROM (
    SELECT q0.vec_id, q0.vec, c.cid,
           row_number() OVER (PARTITION BY q0.vec_id
               ORDER BY {sql_d2_int('q0.qv', 'c.cv', dim)}, c.cid) AS rn
    FROM q0 CROSS JOIN {cf} c) WHERE rn = 1),
m0 AS (
  SELECT a.vec_id, a.vec, a.cid,
         sqrt(list_sum(list_transform(generate_series(1, {dim}),
                                      i -> a.vec[i] * a.vec[i]))) AS nrm,
         list_sum(list_transform(generate_series(1, {dim}),
                                 i -> a.vec[i] * ({cvd}))) AS cdot,
         sqrt(list_sum(list_transform(generate_series(1, {dim}),
                                      i -> ({cvd}) * ({cvd})))) AS cnrm
  FROM asg a JOIN {cf} c USING (cid)),
m AS (SELECT vec_id, vec, cid, nrm, cdot / (nrm * cnrm) AS ccos FROM m0),
dropped AS (
  SELECT DISTINCT v.cid, v.vec_id
  FROM m u JOIN m v ON u.cid = v.cid
   AND (u.ccos < v.ccos OR (u.ccos = v.ccos AND u.vec_id < v.vec_id))
  WHERE list_sum(list_transform(generate_series(1, {dim}),
                                i -> u.vec[i] * v.vec[i]))
        / (u.nrm * v.nrm) >= {SEMDEDUP_TAU})"""


def _semdedup_clusters_oracle() -> str:
    return f"""{sql_semdedup_ctes()},
mem AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_members FROM m GROUP BY cid),
dr AS (
  SELECT cid, CAST(count(*) AS BIGINT) AS n_dropped,
         CAST(sum(vec_id) AS BIGINT) AS dropped_id_sum
  FROM dropped GROUP BY cid)
SELECT mem.cid, mem.n_members,
       CAST(coalesce(dr.n_dropped, 0) AS BIGINT) AS n_dropped,
       CAST(mem.n_members - coalesce(dr.n_dropped, 0) AS BIGINT) AS n_kept,
       CAST((coalesce(dr.n_dropped, 0) * {MICRO}) // mem.n_members
            AS BIGINT) AS drop_micro,
       CAST(coalesce(dr.dropped_id_sum, 0) AS BIGINT) AS dropped_id_sum
FROM mem LEFT JOIN dr USING (cid)
"""


@query("dedup_semdedup_clusters", oracle=_semdedup_clusters_oracle())
def dedup_semdedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup cluster report: per k-means cluster, how many embeddings
    the semantic-dedup pass keeps vs drops (τ = {SEMDEDUP_TAU}
    cluster-local cosine, keep-the-centroid-farthest rule) plus a
    dropped-id checksum — the tier of the dedup family that removes
    SEMANTIC duplicates exact/MinHash/SimHash/substring passes can't
    see (same meaning, different words).  Completes the r10 VERDICT #5
    mandate.

    Oracle-paired end-to-end: the engine-exact integer k-means
    (`similarity.py`) lets DuckDB refit identical centroids; the ccos /
    pair-cosine chains share one operation tree with the oracle, so
    keep/drop decisions are bit-reproducible, not just row-counted.

    Scale: fit on a bounded sample (one TakeOrdered job), assignment one
    narrow pass, centroid attach a k-row literal broadcast, and the pair
    join cid-co-partitioned with no broadcast of corpus data; output is
    ≤ k rows.  Σ c_i² pair work is SemDeDup's defining cost — k scales
    with the corpus (50k clusters in the paper) to bound cluster size."""
    m = semdedup_relation(spark, sf_dir)
    dropped = _semdedup_dropped(m)
    mem = m.groupBy("cid").agg(F.count(F.lit(1)).alias("n_members"))
    dr = dropped.groupBy("cid").agg(
        F.count(F.lit(1)).alias("_nd"),
        F.sum("vec_id").alias("_ds"),
    )
    nd = F.coalesce(F.col("_nd"), F.lit(0)).cast("long")
    return mem.join(dr, "cid", "left").select(
        "cid",
        "n_members",
        nd.alias("n_dropped"),
        (F.col("n_members") - nd).cast("long").alias("n_kept"),
        F.expr(f"(coalesce(_nd, 0) * {MICRO}) div n_members")
        .cast("long")
        .alias("drop_micro"),
        F.coalesce(F.col("_ds"), F.lit(0)).cast("long").alias("dropped_id_sum"),
    )


_SEMDEDUP_VERDICT_ORACLE = f"""{sql_semdedup_ctes()}
SELECT m.vec_id, m.cid, d.vec_id IS NULL AS keep,
       round(m.ccos, 6) AS centroid_sim
FROM m LEFT JOIN (SELECT DISTINCT vec_id FROM dropped) d USING (vec_id)
"""


@query("dedup_semdedup_verdict", oracle=_SEMDEDUP_VERDICT_ORACLE)
def dedup_semdedup_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-embedding SemDeDup verdict — the actionable keep/drop list a
    curation pipeline joins back to the corpus before training (the
    `dedup_incremental_verdict` pattern at the semantic tier), with the
    cosine-to-centroid that ranked the vector inside its cluster.

    Same plan as `dedup_semdedup_clusters` up to the verdict join;
    output is corpus-cardinality by design (it IS the dedup result — at
    100 TB this is a write, not a collect)."""
    m = semdedup_relation(spark, sf_dir)
    dropped = _semdedup_dropped(m).select("vec_id").distinct()
    return m.join(
        dropped.withColumn("_d", F.lit(1)), "vec_id", "left"
    ).select(
        "vec_id",
        "cid",
        F.col("_d").isNull().alias("keep"),
        F.round("ccos", 6).alias("centroid_sim"),
    )


#: τ grid for the SemDeDup aggressiveness sweep, as exact micro ints
#: (the double thresholds derive as tau_micro / 1e6 on BOTH engines, so
#: the comparison doubles are bit-identical).
SEMDEDUP_TAU_GRID = (300_000, 350_000, 400_000, 450_000, 500_000)


def _semdedup_prior_pairs(m: DataFrame) -> DataFrame:
    """All same-cluster ordered pairs (u ≺ v under the SemDeDup rank)
    with their cosine — the τ-free core of `_semdedup_dropped`, shared
    by the sweep and the shadow map.  Column layout: (cid, u_id, u_ccos,
    v_id, sim)."""
    from iceberg_table_generator_spark.operators.similarity import dot

    u = m.select(
        "cid",
        F.col("vec_id").alias("u_id"),
        F.col("vec").alias("u_vec"),
        F.col("nrm").alias("u_nrm"),
        F.col("ccos").alias("u_ccos"),
    )
    v = m.select(
        "cid",
        F.col("vec_id").alias("v_id"),
        F.col("vec").alias("v_vec"),
        F.col("nrm").alias("v_nrm"),
        F.col("ccos").alias("v_ccos"),
    )
    return (
        u.join(v, "cid")
        .filter(
            (F.col("u_ccos") < F.col("v_ccos"))
            | (
                (F.col("u_ccos") == F.col("v_ccos"))
                & (F.col("u_id") < F.col("v_id"))
            )
        )
        .select(
            "cid",
            "u_id",
            "u_ccos",
            "v_id",
            (
                dot("u_vec", "v_vec") / (F.col("u_nrm") * F.col("v_nrm"))
            ).alias("sim"),
        )
    )


_TAU_VALUES_SQL = ", ".join(f"({t})" for t in SEMDEDUP_TAU_GRID)


def _semdedup_sweep_oracle() -> str:
    from iceberg_table_generator_spark.operators.similarity import VEC_DIM

    return f"""{sql_semdedup_ctes()},
vmax AS (
  SELECT v.vec_id,
         max(list_sum(list_transform(generate_series(1, {VEC_DIM}),
                                     i -> u.vec[i] * v.vec[i]))
             / (u.nrm * v.nrm)) AS mx
  FROM m u JOIN m v ON u.cid = v.cid
   AND (u.ccos < v.ccos OR (u.ccos = v.ccos AND u.vec_id < v.vec_id))
  GROUP BY v.vec_id),
vs AS (SELECT mx FROM vmax UNION ALL SELECT -2.0 AS mx),
nv AS (SELECT CAST(count(*) AS BIGINT) AS n FROM m),
taus(tau_micro) AS (VALUES {_TAU_VALUES_SQL})
SELECT t.tau_micro,
       CAST(sum(CASE WHEN x.mx >= t.tau_micro / 1000000.0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       CAST(any_value(nv.n) AS BIGINT) AS n_vectors,
       CAST((sum(CASE WHEN x.mx >= t.tau_micro / 1000000.0
                      THEN 1 ELSE 0 END) * {MICRO})
            // any_value(nv.n) AS BIGINT) AS drop_ppm
FROM taus t CROSS JOIN vs x CROSS JOIN nv
GROUP BY t.tau_micro
"""


@query("dedup_semdedup_tau_sweep", oracle=_semdedup_sweep_oracle())
def dedup_semdedup_tau_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup aggressiveness curve: for each candidate threshold τ, how
    many embeddings the pass would drop — the tuning sweep run BEFORE
    committing to a τ (the `pipeline_dedup_roi_curve` pattern at the
    semantic tier).  One pair pass computes each vector's MAX cosine to
    any higher-ranked same-cluster vector; every τ is then a narrow
    comparison over that per-vector scalar, so the sweep costs ONE
    SemDeDup pair join regardless of grid size.  The τ grid is exact
    micro ints; both engines derive the comparison double as
    tau_micro / 1e6, so the thresholds are bit-identical.

    Scale: `_semdedup_prior_pairs` shape (cid-co-partitioned, no corpus
    broadcast) + one vec-keyed partial-agg max, then a |grid|-row
    literal broadcast cross join AGAINST the streamed per-vector maxima
    (never the reverse — the maxima relation is corpus-cardinality and
    must not broadcast); a sentinel row below every τ keeps the group-by
    total (all |grid| rows survive even with zero qualifying pairs).
    Output = |grid| rows."""
    m = semdedup_relation(spark, sf_dir)
    vmax = _semdedup_prior_pairs(m).groupBy("v_id").agg(
        F.max("sim").alias("mx")
    )
    vs = vmax.select("mx").unionByName(
        spark.range(1).select(F.lit(-2.0).alias("mx"))
    )
    nv = m.agg(F.count(F.lit(1)).alias("n"))
    taus = spark.createDataFrame(
        [(t,) for t in SEMDEDUP_TAU_GRID], schema="tau_micro INT"
    )
    return (
        vs.crossJoin(F.broadcast(taus))
        .crossJoin(F.broadcast(nv))
        .groupBy("tau_micro")
        .agg(
            F.sum(
                F.when(
                    F.col("mx") >= F.col("tau_micro") / F.lit(1_000_000.0),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_dropped"),
            F.any_value("n").cast("long").alias("n_vectors"),
        )
        .select(
            "tau_micro",
            "n_dropped",
            "n_vectors",
            F.expr(f"(n_dropped * {MICRO}) div n_vectors")
            .cast("long")
            .alias("drop_ppm"),
        )
    )


def _semdedup_shadow_oracle() -> str:
    from iceberg_table_generator_spark.operators.similarity import VEC_DIM

    return f"""{sql_semdedup_ctes()},
hits AS (
  SELECT v.cid, v.vec_id, u.vec_id AS shadow_id, u.ccos AS u_ccos,
         list_sum(list_transform(generate_series(1, {VEC_DIM}),
                                 i -> u.vec[i] * v.vec[i]))
           / (u.nrm * v.nrm) AS sim
  FROM m u JOIN m v ON u.cid = v.cid
   AND (u.ccos < v.ccos OR (u.ccos = v.ccos AND u.vec_id < v.vec_id))
  WHERE list_sum(list_transform(generate_series(1, {VEC_DIM}),
                                i -> u.vec[i] * v.vec[i]))
        / (u.nrm * v.nrm) >= {SEMDEDUP_TAU}),
ranked AS (
  SELECT cid, vec_id, shadow_id, sim,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY u_ccos, shadow_id) AS rn
  FROM hits)
SELECT vec_id, cid, shadow_id, round(sim, 6) AS sim
FROM ranked WHERE rn = 1
"""


@query("dedup_semdedup_shadow_map", oracle=_semdedup_shadow_oracle())
def dedup_semdedup_shadow_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every DROPPED embedding, the vector that shadowed it: the
    FIRST higher-ranked same-cluster vector (by the SemDeDup rank) whose
    cosine clears τ — the exemplar mapping a curation pipeline keeps so
    dropped documents remain attributable (`dedup_keep_canonical`'s
    cluster-representative contract at the semantic tier).

    Scale: the pair join shape of the family, then one rank window
    PARTITIONED BY victim (each partition ≤ cluster size); output is one
    row per dropped vector."""
    m = semdedup_relation(spark, sf_dir)
    hits = _semdedup_prior_pairs(m).filter(F.col("sim") >= SEMDEDUP_TAU)
    w = Window.partitionBy("v_id").orderBy(F.asc("u_ccos"), F.asc("u_id"))
    return (
        hits.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("v_id").alias("vec_id"),
            "cid",
            F.col("u_id").alias("shadow_id"),
            F.round("sim", 6).alias("sim"),
        )
    )


# --------------------------------------------------------------------------
# Temperature-scaled source mixing weights (data-mixing plan)
# --------------------------------------------------------------------------
_MIX_ORACLE = f"""
WITH per_src AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
  FROM documents GROUP BY source),
w AS (
  SELECT source, n_docs, tokens,
         CAST(floor(sqrt(CAST(tokens AS DOUBLE))) AS BIGINT) AS w2
  FROM per_src),
tot AS (
  SELECT CAST(sum(tokens) AS BIGINT) AS tt, CAST(sum(w2) AS BIGINT) AS tw
  FROM w)
SELECT source, n_docs, tokens,
       CAST((tokens * {MICRO}) // tt AS BIGINT) AS natural_ppm,
       CAST((w2 * {MICRO}) // tw AS BIGINT) AS t2_ppm
FROM w CROSS JOIN tot
"""


@query("pipeline_source_mixing_weights", oracle=_MIX_ORACLE)
def pipeline_source_mixing_weights(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Temperature-scaled data-mixing plan: per-source sampling weights at
    T=2 (weight ∝ √tokens — the standard multilingual/multi-source
    rebalancing that upsamples small feeds without letting one giant
    crawl dominate an epoch) next to the natural token shares.  √tokens
    is floor(sqrt(double)) on BOTH engines — IEEE sqrt is correctly
    rounded, so the integer weights are engine-exact, and the ppm shares
    are integer division end to end.

    Scale: one corpus scan into a source-keyed partial aggregate
    (catalog-bounded output, persisted — the totals branch and the share
    projection both read it), then a 1-row broadcast; output is one row
    per source."""
    per_src = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(F.split("text", " "))).cast("long").alias("tokens"),
        )
        .withColumn(
            "w2",
            F.floor(F.sqrt(F.col("tokens").cast("double"))).cast("long"),
        )
    )
    per_src = persist_tracked(per_src)
    tot = per_src.agg(
        F.sum("tokens").cast("long").alias("tt"),
        F.sum("w2").cast("long").alias("tw"),
    )
    return per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "tokens",
        F.expr(f"(tokens * {MICRO}) div tt").cast("long").alias("natural_ppm"),
        F.expr(f"(w2 * {MICRO}) div tw").cast("long").alias("t2_ppm"),
    )


# --------------------------------------------------------------------------
# Span-level decontamination: maximal benchmark-span coverage per doc
# --------------------------------------------------------------------------
#: Same held-out-benchmark stand-in as `pipeline_contamination_check`
#: (doc_id % BENCH_MOD == 0 plays the benchmark suite; in production the
#: bench side is a real fixed corpus — MMLU/GSM8K-sized).
DECON_BENCH_MOD = 20


def _decon_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal contaminated spans per TRAINING doc: every {SPAN_K}-token
    window that also occurs in a benchmark doc, merged into maximal
    islands (`wave10.merge_position_islands` — the r10 island machinery
    REUSED, not duplicated: r10 VERDICT #6).

    Shape: one posexplode (`_span_positions`, persisted — bench and
    corpus sides both read it), a bench-side hash set broadcast (the
    benchmark corpus is fixed-size in production), one LEFT SEMI join on
    the 60-bit hash — never the text, never a pair explosion (semi join
    output ≤ probe side) — then the doc-partitioned island merge."""
    sp = persist_tracked(_span_positions(spark, sf_dir))
    bench = sp.filter(
        F.pmod("doc_id", F.lit(DECON_BENCH_MOD)) == 0
    ).select("h")
    corpus = sp.filter(F.pmod("doc_id", F.lit(DECON_BENCH_MOD)) != 0)
    flagged = corpus.join(F.broadcast(bench), "h", "left_semi")
    return merge_position_islands(flagged)


def _sql_decon_cov() -> str:
    """DuckDB twin ending at `cov` + `lens`: appended to
    `_sql_span_groups`'s chain (which defines t/sp; its `grp` CTE goes
    unreferenced here and DuckDB prunes it)."""
    return f""",
bench AS (SELECT DISTINCT h FROM sp WHERE doc_id % {DECON_BENCH_MOD} = 0),
fl AS (
  SELECT sp.doc_id, sp.pos FROM sp JOIN bench USING (h)
  WHERE sp.doc_id % {DECON_BENCH_MOD} <> 0),
runs AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp_id
  FROM fl),
islands AS (
  SELECT doc_id,
         CAST(min(pos) AS BIGINT) AS token_start,
         CAST(max(pos) + {SPAN_K - 1} AS BIGINT) AS token_end,
         CAST(count(*) AS BIGINT) AS n_kspans
  FROM runs GROUP BY doc_id, grp_id),
cov AS (
  SELECT doc_id, token_start, token_end,
         greatest(CAST(0 AS BIGINT),
                  token_end - greatest(
                      coalesce(max(token_end) OVER (
                          PARTITION BY doc_id ORDER BY token_start
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        CAST(0 AS BIGINT)),
                      token_start - 1)) AS covered
  FROM islands),
lens AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens FROM t)"""


_DECON_ORACLE = f"""{_sql_span_groups()}{_sql_decon_cov()}
SELECT c.doc_id, l.n_tokens,
       CAST(count(*) AS BIGINT) AS n_islands,
       CAST(max(c.token_end - c.token_start + 1) AS BIGINT)
         AS longest_island_tokens,
       CAST(sum(c.covered) AS BIGINT) AS contaminated_tokens,
       CAST((sum(c.covered) * {MICRO}) // l.n_tokens AS BIGINT)
         AS contamination_micro
FROM cov c JOIN lens l USING (doc_id)
GROUP BY c.doc_id, l.n_tokens
"""


@query("pipeline_span_decontamination", oracle=_DECON_ORACLE)
def pipeline_span_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level decontamination (r10 VERDICT #6): for every training
    document sharing at least one maximal {SPAN_K}-token span with the
    benchmark set, the EXACT number of its tokens inside contaminated
    spans (per-doc interval union — overlapping island extents counted
    once) and the integer-micro contaminated fraction.  This replaces
    `pipeline_contamination_check`'s doc-pair shingle-hit RATE with the
    token-precise view a decontamination pass acts on: drop the doc when
    the fraction is high, surgically cut the island extents when low.

    Scale: the `_decon_islands` shape (posexplode + fixed-size bench
    broadcast + semi join + doc-bounded windows) and one doc-keyed
    aggregate joined to the pruned (doc_id, n_tokens) relation — no
    pair explosion anywhere; output is one row per contaminated doc."""
    isl = _decon_islands(spark, sf_dir)
    cov = with_interval_coverage(isl)
    per_doc = cov.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.max(F.col("token_end") - F.col("token_start") + 1).alias(
            "longest_island_tokens"
        ),
        F.sum("covered").cast("long").alias("contaminated_tokens"),
    )
    lens = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    return per_doc.join(lens, "doc_id").select(
        "doc_id",
        "n_tokens",
        "n_islands",
        "longest_island_tokens",
        "contaminated_tokens",
        F.expr(f"(contaminated_tokens * {MICRO}) div n_tokens")
        .cast("long")
        .alias("contamination_micro"),
    )


_DECON_STATS_ORACLE = f"""{_sql_span_groups()}{_sql_decon_cov()},
per_doc AS (
  SELECT doc_id, CAST(sum(covered) AS BIGINT) AS ct
  FROM cov GROUP BY doc_id),
corpus AS (
  SELECT CAST(count(*) AS BIGINT) AS n_corpus_docs,
         CAST(sum(n_tokens) AS BIGINT) AS corpus_tokens
  FROM lens WHERE doc_id % {DECON_BENCH_MOD} <> 0)
SELECT c.n_corpus_docs,
       CAST(count(p.doc_id) AS BIGINT) AS n_contaminated_docs,
       c.corpus_tokens,
       CAST(coalesce(sum(p.ct), 0) AS BIGINT) AS contaminated_tokens,
       CAST((coalesce(sum(p.ct), 0) * {MICRO}) // c.corpus_tokens AS BIGINT)
         AS contamination_ppm
FROM corpus c LEFT JOIN per_doc p ON true
GROUP BY c.n_corpus_docs, c.corpus_tokens
"""


_DECON_BY_SOURCE_ORACLE = f"""{_sql_span_groups()}{_sql_decon_cov()},
per_doc AS (
  SELECT doc_id, CAST(sum(covered) AS BIGINT) AS ct
  FROM cov GROUP BY doc_id),
docsrc AS (
  SELECT d.doc_id, d.source,
         CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
  FROM documents d WHERE d.doc_id % {DECON_BENCH_MOD} <> 0)
SELECT s.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(s.n_tokens) AS BIGINT) AS source_tokens,
       CAST(count(p.ct) AS BIGINT) AS n_contaminated_docs,
       CAST(coalesce(sum(p.ct), 0) AS BIGINT) AS contaminated_tokens,
       CAST((coalesce(sum(p.ct), 0) * {MICRO}) // sum(s.n_tokens)
            AS BIGINT) AS contamination_ppm
FROM docsrc s LEFT JOIN per_doc p ON s.doc_id = p.doc_id
GROUP BY s.source
"""


@query("pipeline_decontamination_by_source", oracle=_DECON_BY_SOURCE_ORACLE)
def pipeline_decontamination_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Contamination attribution: per SOURCE, how many training docs and
    tokens sit inside benchmark spans — the view that decides whether to
    decontaminate surgically or drop a feed wholesale (the
    `pipeline_dup_by_source` pattern at the contamination tier; a single
    crawler that re-ingested the benchmark shows up as one hot row).

    Scale: the decontamination islands plan + one doc-keyed LEFT join
    from the pruned (doc_id, source, n_tokens) relation and a
    source-keyed aggregate (source domain is catalog-bounded); output is
    one row per source."""
    isl = _decon_islands(spark, sf_dir)
    cov = with_interval_coverage(isl)
    per_doc = cov.groupBy("doc_id").agg(
        F.sum("covered").cast("long").alias("ct")
    )
    docsrc = (
        load_table(spark, sf_dir, "documents")
        .filter(F.pmod("doc_id", F.lit(DECON_BENCH_MOD)) != 0)
        .select(
            "doc_id",
            "source",
            F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        )
    )
    return (
        docsrc.join(per_doc, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("source_tokens"),
            F.count("ct").cast("long").alias("n_contaminated_docs"),
            F.coalesce(F.sum("ct"), F.lit(0))
            .cast("long")
            .alias("contaminated_tokens"),
        )
        .select(
            "source",
            "n_docs",
            "source_tokens",
            "n_contaminated_docs",
            "contaminated_tokens",
            F.expr(f"(contaminated_tokens * {MICRO}) div source_tokens")
            .cast("long")
            .alias("contamination_ppm"),
        )
    )


@query("pipeline_decontamination_stats", oracle=_DECON_STATS_ORACLE)
def pipeline_decontamination_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level decontamination budget: how many training docs carry
    benchmark spans and what fraction of ALL training tokens a span-cut
    pass would remove (parts-per-million, integer-exact) — the one-row
    go/no-go gate before committing to a surgical decontamination run.

    Scale: `pipeline_span_decontamination`'s plan capped by two scalar
    aggregates and a 1×1 cross join; output is one row."""
    isl = _decon_islands(spark, sf_dir)
    cov = with_interval_coverage(isl)
    per_doc = cov.groupBy("doc_id").agg(
        F.sum("covered").cast("long").alias("ct")
    )
    corpus = (
        load_table(spark, sf_dir, "documents")
        .filter(F.pmod("doc_id", F.lit(DECON_BENCH_MOD)) != 0)
        .agg(
            F.count(F.lit(1)).alias("n_corpus_docs"),
            F.sum(F.size(F.split("text", " ")))
            .cast("long")
            .alias("corpus_tokens"),
        )
    )
    agg = per_doc.agg(
        F.count(F.lit(1)).alias("n_contaminated_docs"),
        F.coalesce(F.sum("ct"), F.lit(0)).cast("long").alias(
            "contaminated_tokens"
        ),
    )
    return agg.crossJoin(F.broadcast(corpus)).select(
        "n_corpus_docs",
        "n_contaminated_docs",
        "corpus_tokens",
        "contaminated_tokens",
        F.expr(f"(contaminated_tokens * {MICRO}) div corpus_tokens")
        .cast("long")
        .alias("contamination_ppm"),
    )
