"""Round-12 third wave: hybrid-retrieval fusion and snapshot-expiry
planning.

* **Reciprocal-rank fusion (RRF)** — the standard hybrid-search combiner
  (Cormack et al. 2009; every production vector store's "hybrid" mode):
  fuse two registered ANN rankings by Σ 1/(K + rank) and measure the
  fused ranking's nDCG/MRR against exact cosine with the wave13
  evaluator — the query that answers "does fusing LSH and IVF beat
  either index alone" before anyone ships a hybrid endpoint.
* **ExpireSnapshots planning** — the Iceberg table-maintenance
  counterpart of the reference's snapshot-per-commit cadence
  (`IcebergTableGenerator.java:367-379` accumulates snapshots; Iceberg's
  `ExpireSnapshots` is how they are ever reclaimed): which snapshots a
  retain-last-N policy expires and which file entries become removable
  because NO retained snapshot references them — the dry-run a steward
  reads before an irreversible expiry.

Exactness: RRF contributions are integer reciprocals (1e6 // (K+rank)),
so fusion scores are exact integer sums and the downstream DCG chain is
the wave13 micro-rounded device; the expiry plan is pure set algebra
over the metadata log (both engines read the same JSON).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from iceberg_table_generator_spark.registry import query

_MICRO = 1_000_000

# --------------------------------------------------------------------------
# Reciprocal-rank fusion of the two ANN families, quality-evaluated
# --------------------------------------------------------------------------
#: The canonical RRF damping constant (Cormack et al. 2009).
RRF_K = 60


def _rrf_fusion_oracle() -> str:
    from iceberg_table_generator_spark.operators.similarity import (
        _ANN_LSH_ORACLE,
        _COSINE_ORACLE,
        _ivf_oracle,
        TOP_K,
    )
    from iceberg_table_generator_spark.operators.wave13 import (
        SQL_RANKING_QUALITY,
    )

    return f"""
WITH exact_q AS ({_COSINE_ORACLE}),
lsh_q AS ({_ANN_LSH_ORACLE}),
ivf_q AS ({_ivf_oracle()}),
gold AS (SELECT query_id, neighbor_id AS item, rank AS r FROM exact_q),
pool AS (
  SELECT query_id, neighbor_id AS item, rank AS s FROM lsh_q
  UNION ALL
  SELECT query_id, neighbor_id AS item, rank AS s FROM ivf_q),
rrf AS (
  SELECT query_id, item,
         CAST(sum({_MICRO} // ({RRF_K} + s)) AS BIGINT) AS rrf_micro
  FROM pool GROUP BY query_id, item),
fused AS (
  SELECT 'rrf' AS method, query_id, item,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY rrf_micro DESC, item) AS INT) AS s
  FROM rrf),
ann AS (SELECT * FROM fused WHERE s <= {TOP_K}),
{SQL_RANKING_QUALITY.format(k=TOP_K)}
"""


@query("similarity_rrf_fusion_eval", oracle=_rrf_fusion_oracle())
def similarity_rrf_fusion_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of the LSH and IVF rankings, evaluated:
    fuse by Σ 1/({RRF_K}+rank) over both registered ANN queries, re-rank,
    and score the fused top-k against exact cosine with nDCG@k/MRR — the
    hybrid-retrieval question ("is the fusion better than either index
    alone?") answered next to `similarity_ann_ndcg_eval`'s per-family
    rows, by the SAME evaluator, so the comparison is apples-to-apples.

    RRF is rank-only (score-scale-free — why production stacks fuse
    lexical+dense with it); contributions are exact integer reciprocals
    1e6 // (K+rank), so fusion scores are integer sums, ties break on
    item id, and both engines agree bit-for-bit.

    Scale: inputs are the two registered queries' (n_queries × k)
    outputs; fusion is a tiny groupBy + bounded window.  Eval-by-
    composition: the oracle composes the registered oracle texts and the
    shared ranking-quality SQL, so the eval cannot drift."""
    from iceberg_table_generator_spark.operators.similarity import (
        TOP_K,
        cosine_topk_gold_pinned,
        similarity_ann_lsh,
        similarity_ivf_topk,
    )
    from iceberg_table_generator_spark.operators.wave13 import (
        ranking_quality,
    )

    # Pinned accessor: ranking_quality fans the gold into two branches.
    exact = cosine_topk_gold_pinned(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("item"), F.col("rank").alias("r")
    )
    pool = (
        similarity_ann_lsh(spark, sf_dir)
        .select("query_id", F.col("neighbor_id").alias("item"), F.col("rank").alias("s"))
        .unionByName(
            similarity_ivf_topk(spark, sf_dir).select(
                "query_id",
                F.col("neighbor_id").alias("item"),
                F.col("rank").alias("s"),
            )
        )
    )
    rrf = pool.groupBy("query_id", "item").agg(
        F.sum(F.expr(f"{_MICRO} div ({RRF_K} + s)")).cast("long").alias("rrf_micro")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_micro"), F.asc("item")
    )
    fused = (
        rrf.withColumn("s", F.row_number().over(w))
        .filter(F.col("s") <= TOP_K)
        .select(F.lit("rrf").alias("method"), "query_id", "item", "s")
    )
    return ranking_quality(fused, exact, TOP_K, keys=["method"])


# --------------------------------------------------------------------------
# ExpireSnapshots dry-run plan over the metadata fixture
# --------------------------------------------------------------------------
#: Retain-last-N policy evaluated by the plan (Iceberg's
#: `expire_snapshots(retain_last => N)`).
EXPIRE_RETAIN_LAST = 2


def _expire_plan_oracle() -> str:
    from iceberg_table_generator_spark.operators.metadata_tables import (
        _META_JSON,
    )

    return f"""
WITH m AS (SELECT * FROM read_json('{_META_JSON}', format='array')),
snaps AS (SELECT CAST(snapshot_id AS INT) AS snapshot_id FROM m),
cut AS (
  SELECT snapshot_id AS min_retained FROM snaps
  ORDER BY snapshot_id DESC LIMIT 1 OFFSET {EXPIRE_RETAIN_LAST - 1}),
entries AS (
  SELECT CAST(snapshot_id AS INT) AS snapshot_id, 'data' AS content,
         CAST(e[1]->>'$' AS VARCHAR) AS file_path
  FROM (SELECT snapshot_id, unnest(data_files) AS e FROM m)
  UNION ALL
  SELECT CAST(snapshot_id AS INT) AS snapshot_id,
         CAST(e[3]->>'$' AS VARCHAR) AS content,
         CAST(e[1]->>'$' AS VARCHAR) AS file_path
  FROM (SELECT snapshot_id, unnest(delete_files) AS e FROM m)),
tagged AS (
  SELECT e.*, CASE WHEN e.snapshot_id >= c.min_retained THEN 1 ELSE 0 END
           AS retained
  FROM entries e CROSS JOIN cut c)
SELECT file_path, content,
       CAST(sum(1 - retained) AS BIGINT) AS n_expired_refs,
       CAST(sum(retained) AS BIGINT) AS n_retained_refs,
       CAST(CASE WHEN sum(retained) = 0 THEN 1 ELSE 0 END AS INT)
         AS removable
FROM tagged GROUP BY file_path, content
"""


@query("meta_expire_snapshots_plan", oracle=_expire_plan_oracle())
def meta_expire_snapshots_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExpireSnapshots dry run (retain_last = {EXPIRE_RETAIN_LAST}): for
    every file entry in the metadata fixture's snapshot log, how many
    EXPIRED vs RETAINED snapshots reference it, and whether expiry may
    physically remove it (removable ⟺ zero retained references) — the
    plan Iceberg's `expire_snapshots` computes before deleting anything,
    and the reason expiry is safe-by-construction: a file ever referenced
    by a retained snapshot survives.  Completes the lifecycle surface
    next to compaction/rollback/branching (the reference accumulates one
    snapshot per commit, `IcebergTableGenerator.java:367-379`; expiry is
    how a real table reclaims them).

    Pure set algebra over the same deterministic metadata fixture the
    other `meta_*` queries audit (both engines read the same JSON log);
    output is file-set-bounded.  At scale this relation is manifest-
    sized — metadata, never data."""
    from iceberg_table_generator_spark.operators.metadata_tables import (
        _fixture_table,
    )

    t = _fixture_table(spark, sf_dir)
    files = t.all_files_table()
    snaps = [
        r.snapshot_id
        for r in files.select("snapshot_id").distinct().collect()
    ]
    min_retained = sorted(snaps)[-EXPIRE_RETAIN_LAST]
    tagged = files.select(
        "file_path",
        "content",
        F.when(F.col("snapshot_id") >= min_retained, 1)
        .otherwise(0)
        .alias("retained"),
    )
    return tagged.groupBy("file_path", "content").agg(
        F.sum(1 - F.col("retained")).cast("long").alias("n_expired_refs"),
        F.sum("retained").cast("long").alias("n_retained_refs"),
        F.when(F.sum("retained") == 0, 1).otherwise(0).cast("int").alias(
            "removable"
        ),
    )


# --------------------------------------------------------------------------
# Expire-snapshots retention sweep (retain_last grid)
# --------------------------------------------------------------------------
#: Retention policies swept (must each be ≤ the fixture's snapshot count).
EXPIRE_SWEEP = (1, 2, 4)


def _expire_sweep_oracle() -> str:
    from iceberg_table_generator_spark.operators.metadata_tables import (
        _META_JSON,
    )

    grid = ", ".join(f"({n})" for n in EXPIRE_SWEEP)
    return f"""
WITH m AS (SELECT * FROM read_json('{_META_JSON}', format='array')),
g(retain_last) AS (VALUES {grid}),
snaps AS (
  SELECT CAST(snapshot_id AS INT) AS snapshot_id,
         row_number() OVER (ORDER BY snapshot_id DESC) AS rdesc
  FROM m),
cut AS (
  SELECT g.retain_last, s.snapshot_id AS min_retained
  FROM g JOIN snaps s ON s.rdesc = g.retain_last),
entries AS (
  SELECT CAST(snapshot_id AS INT) AS snapshot_id, 'data' AS content,
         CAST(e[1]->>'$' AS VARCHAR) AS file_path
  FROM (SELECT snapshot_id, unnest(data_files) AS e FROM m)
  UNION ALL
  SELECT CAST(snapshot_id AS INT) AS snapshot_id,
         CAST(e[3]->>'$' AS VARCHAR) AS content,
         CAST(e[1]->>'$' AS VARCHAR) AS file_path
  FROM (SELECT snapshot_id, unnest(delete_files) AS e FROM m)),
per_file AS (
  SELECT c.retain_last, e.file_path, e.content,
         max(CASE WHEN e.snapshot_id >= c.min_retained THEN 1 ELSE 0 END)
           AS retained
  FROM entries e CROSS JOIN cut c
  GROUP BY c.retain_last, e.file_path, e.content)
SELECT CAST(retain_last AS INT) AS retain_last,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(1 - retained) AS BIGINT) AS n_removable,
       CAST(sum(CASE WHEN retained = 0 AND content = 'data'
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_removable_data,
       CAST(sum(CASE WHEN retained = 0 AND content <> 'data'
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_removable_deletes
FROM per_file GROUP BY retain_last
"""


@query("meta_expire_retention_sweep", oracle=_expire_sweep_oracle())
def meta_expire_retention_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention-policy sweep over the ExpireSnapshots dry run: for each
    retain_last ∈ EXPIRE_SWEEP (1/2/4), how many files (data vs delete) become
    physically removable — the table-maintenance trade-off curve
    (aggressive retention reclaims more files but shortens the
    time-travel window) read before committing an expiry policy, the
    lifecycle twin of the banding-plan / τ / vocabulary sweeps.

    Grid-composes the registered `meta_expire_snapshots_plan` algebra:
    the per-(policy, file) retained flag is the same set test, evaluated
    once per grid cell on the metadata-sized entry relation (never
    data).  The policy grid is a driver-literal; output is |grid| rows."""
    from iceberg_table_generator_spark.operators.metadata_tables import (
        _fixture_table,
    )

    t = _fixture_table(spark, sf_dir)
    files = t.all_files_table()
    # Rank over the SNAPSHOTS metadata relation — the same source as the
    # oracle's `m` CTE (r13 advice): deriving the cut from distinct
    # snapshot_ids in file entries would desynchronize the engines on a
    # snapshot with zero file entries.  Snapshot-count-bounded collect
    # (the expire plan's own idiom); the per-policy cut is a |grid|-row
    # literal.
    snaps = sorted(
        r.snapshot_id
        for r in t.snapshots_table().select("snapshot_id").collect()
    )
    if len(snaps) < max(EXPIRE_SWEEP):
        raise ValueError(
            f"retention sweep needs ≥{max(EXPIRE_SWEEP)} snapshots "
            f"(retain_last grid {EXPIRE_SWEEP}); fixture has {len(snaps)}"
        )
    cuts = spark.range(1).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(n).alias("retain_last"),
                        F.lit(snaps[-n]).alias("min_retained"),
                    )
                    for n in EXPIRE_SWEEP
                ]
            )
        ).alias("e")
    ).select("e.retain_last", "e.min_retained")
    per_file = (
        files.crossJoin(F.broadcast(cuts))
        .groupBy("retain_last", "file_path", "content")
        .agg(
            F.max(
                F.when(F.col("snapshot_id") >= F.col("min_retained"), 1)
                .otherwise(0)
            ).alias("retained")
        )
    )
    return per_file.groupBy("retain_last").agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum(1 - F.col("retained")).cast("long").alias("n_removable"),
        F.sum(
            F.when(
                (F.col("retained") == 0) & (F.col("content") == "data"), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_removable_data"),
        F.sum(
            F.when(
                (F.col("retained") == 0) & (F.col("content") != "data"), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_removable_deletes"),
    )
