"""Parquet star-schema loaders (driver testdata, TESTDATA.md).

The reference's only source is its own generated Iceberg/Parquet tables
(`IcebergTableGenerator.java:249-257` row-at-a-time reader).  Here the scan is
Spark's vectorized Parquet reader; Catalyst pushes filters and prunes columns
into it for free (SURVEY.md §2.1 S7/S8).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# The testdata's parquet schemas, declared: `spark.read.schema(ddl)` builds
# a scan without opening a footer, where inference runs one Spark job per
# call (`load_table` of documents/lineitem/events at sf0.1 on 4 cores,
# median of 15: 0.11-0.15 s inferred, 0.025-0.037 s declared).  Timestamps are
# naive parquet timestamp[us], so TIMESTAMP_NTZ matches DuckDB's TIMESTAMP.
# tests/test_table_schemas.py checks these against the footers at every SF.
TABLE_SCHEMAS: dict[str, str] = {
    "region": "r_regionkey INT, r_name STRING",
    "nation": "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer": (
        "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, "
        "c_mktsegment STRING"
    ),
    "supplier": "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part": (
        "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, p_size INT, "
        "p_retailprice DOUBLE"
    ),
    "orders": (
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE, "
        "o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"
    ),
    "lineitem": (
        "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, "
        "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, "
        "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"
    ),
    "events": (
        "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, "
        "value DOUBLE, props STRING"
    ),
    "documents": "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings": "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
}
TABLE_NAMES = tuple(TABLE_SCHEMAS)

def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_SCHEMAS:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    # The driver may pass its own SparkSession: make sure the SQL confs the
    # engine depends on (UTC, AQE, excluded optimizer rules) are applied.
    from iceberg_table_generator_spark.session import ensure_session_confs

    ensure_session_confs(spark)
    return spark.read.schema(TABLE_SCHEMAS[name]).parquet(table_path(sf_dir, name))


def input_partitions(df: DataFrame) -> int:
    """The partition count of ``df``'s physical plan, read off its analyzed
    logical plan without planning it: a repartition's count, an existing
    RDD's count, or, for a file scan, Spark's packing of its file listing
    into partitions (``FilePartition.maxSplitBytes`` and
    ``getFilePartitions``: files cut into splits of at most
    ``maxSplitBytes``, packed next-fit decreasing, each split charged
    ``openCostInBytes``).  Projections keep their child's count.  Any
    other input raises ``ValueError``."""
    plan = df._jdf.logicalPlan()
    while plan.nodeName() == "Project":
        plan = plan.child()
    if plan.nodeName() == "Repartition":
        return plan.numPartitions()
    if plan.nodeName() == "LogicalRDD":
        return plan.rdd().getNumPartitions()
    if plan.nodeName() != "LogicalRelation":
        raise ValueError(f"no partition count for a {plan.nodeName()} input")
    jspark = df.sparkSession._jsparkSession
    conf = jspark.sessionState().conf()
    open_cost = conf.filesOpenCostInBytes()
    min_parts = conf.filesMinPartitionNum()
    min_parts = min_parts.get() if min_parts.isDefined() else jspark.leafNodeDefaultParallelism()
    files = plan.relation().location().allFiles()
    sizes = [files.apply(i).getLen() for i in range(files.length())]
    max_split = min(
        conf.filesMaxPartitionBytes(),
        max(open_cost, sum(s + open_cost for s in sizes) // min_parts),
    )
    splits = sorted(
        (min(max_split, s - off) for s in sizes for off in range(0, s, max_split)),
        reverse=True,
    )
    parts, size = 0, 0
    for split in splits:
        if size + split > max_split:
            parts, size = parts + 1, 0
        size += split + open_cost
    return parts + (1 if splits else 0)


def spread(df: DataFrame) -> DataFrame:
    """Widen an under-split relation to the cluster's parallelism before
    expensive per-row work (tokenize/shingle/hash/encode pipelines).

    Local testdata parquet is written as ONE row group per file, so a scan
    yields ONE partition and everything up to the first shuffle runs
    serially — measured 3.7s vs 1.1s for the sf0.1 shingle stream on
    local[32].  At 100 TB the same table arrives in thousands of splits,
    where a round-robin repartition would inject a full-corpus shuffle —
    so this is a NO-OP whenever the source already yields at least the
    cluster's default parallelism.  The count comes from
    `input_partitions`, which reads the scan's file listing (about
    2.5 ms at sf0.1 on 4 cores) instead of optimizing and planning the
    input once more as ``df.rdd.getNumPartitions()`` does (26-33 ms)."""
    n = df.sparkSession.sparkContext.defaultParallelism
    if input_partitions(df) >= n:
        return df
    return df.repartition(n)
