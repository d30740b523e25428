"""Contract tests for sources.tables.spread (r6): widen under-split scans
for per-row-heavy work WITHOUT ever injecting a corpus shuffle at scale."""

from __future__ import annotations

import os

import pytest

from iceberg_table_generator_spark.sources.tables import (
    TABLE_NAMES,
    input_partitions,
    load_table,
    spread,
)

from conftest import SF_MEDIUM, SF_SMALL

SF_LARGE = os.path.join(os.path.dirname(SF_SMALL), "sf0.1")


def test_spread_widens_single_partition_scan(spark, sf_small):
    df = load_table(spark, sf_small, "documents")
    assert df.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    widened = spread(df)
    assert (
        widened.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    )


def test_spread_is_noop_when_already_split(spark, sf_small):
    n = spark.sparkContext.defaultParallelism
    df = load_table(spark, sf_small, "documents").repartition(n)
    # Already at cluster parallelism: spread must return the SAME plan —
    # at 100 TB an extra repartition here would be a full-corpus shuffle.
    assert spread(df) is df

    wider = load_table(spark, sf_small, "documents").repartition(n * 2)
    assert spread(wider) is wider


@pytest.mark.parametrize("max_bytes", [None, "64k"])
@pytest.mark.parametrize("sf_dir", [SF_SMALL, SF_MEDIUM, SF_LARGE])
def test_input_partitions_matches_the_planned_scan(spark, sf_dir, max_bytes):
    # spread() decides from the scan's file listing; the count must be the
    # one the planned scan has, for every table.  64k splits the larger
    # files into many partitions, so the packing is exercised too.
    key = "spark.sql.files.maxPartitionBytes"
    saved = spark.conf.get(key)
    if max_bytes:
        spark.conf.set(key, max_bytes)
    try:
        for name in TABLE_NAMES:
            df = load_table(spark, sf_dir, name)
            assert input_partitions(df) == df.rdd.getNumPartitions(), name
            projected = df.select(df.columns[0])
            assert input_partitions(projected) == projected.rdd.getNumPartitions()
    finally:
        spark.conf.set(key, saved)


def test_spread_keeps_a_scan_that_is_already_split(spark, sf_medium):
    n = spark.sparkContext.defaultParallelism
    key = "spark.sql.files.maxPartitionBytes"
    saved = spark.conf.get(key)
    spark.conf.set(key, "16k")
    try:
        df = load_table(spark, sf_medium, "lineitem")
        assert df.rdd.getNumPartitions() >= n
        assert spread(df) is df
    finally:
        spark.conf.set(key, saved)


def test_input_partitions_of_an_existing_rdd(spark):
    df = spark.createDataFrame([(i, str(i)) for i in range(20)], "doc_id bigint, text string")
    for frame in (df, df.select("text")):
        assert input_partitions(frame) == frame.rdd.getNumPartitions()


def test_input_partitions_rejects_an_unknown_shape(spark, sf_small):
    df = load_table(spark, sf_small, "documents").groupBy("source").count()
    with pytest.raises(ValueError):
        input_partitions(df)
