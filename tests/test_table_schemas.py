"""`load_table` reads the testdata with declared schemas
(`sources/tables.py::TABLE_SCHEMAS`) instead of inferring them from the
parquet footers.  A testdata file whose schema changes fails here first."""

from __future__ import annotations

import os
import time
import uuid

import pytest

from iceberg_table_generator_spark.sources.tables import TABLE_NAMES, load_table, table_path


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_declared_schema_equals_footer_schema(spark, sf_small, sf):
    sf_dir = os.path.join(os.path.dirname(sf_small), sf)
    for name in TABLE_NAMES:
        footer = spark.read.parquet(table_path(sf_dir, name)).schema
        assert load_table(spark, sf_dir, name).schema == footer, name


def test_load_table_builds_without_spark_jobs(spark, sf_small):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    tag = uuid.uuid4().hex[:8]
    for group, build in [
        (f"declared-{tag}", lambda: [load_table(spark, sf_small, n) for n in TABLE_NAMES]),
        # control: footer inference is a job the tracker sees; listener
        # events arrive in order, so once it shows, so would the loads'
        (f"infer-{tag}", lambda: spark.read.parquet(table_path(sf_small, "events")).schema),
    ]:
        sc.setJobGroup(group, group)
        try:
            build()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
    for _ in range(50):
        if tracker.getJobIdsForGroup(f"infer-{tag}"):
            break
        time.sleep(0.1)
    assert tracker.getJobIdsForGroup(f"infer-{tag}")
    assert list(tracker.getJobIdsForGroup(f"declared-{tag}")) == []
