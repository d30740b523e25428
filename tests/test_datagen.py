"""Datagen correctness: determinism + distribution/domain contracts
(SURVEY.md §5 strategy — not Java-PRNG equality)."""

from __future__ import annotations

import pyspark.sql.functions as F

from iceberg_table_generator_spark.datagen import records as R
from iceberg_table_generator_spark.datagen import values as V


def _hash(df):
    cols = [F.col(c).cast("string") for c in df.columns]
    return df.select(F.md5(F.concat_ws("|", *cols)).alias("h")).agg(
        F.sum(F.conv(F.substring("h", 1, 8), 16, 10).cast("long")).alias("s")
    ).first()["s"]


def test_same_seed_same_output(spark):
    a = R.orders(spark, 5000, seed=42)
    b = R.orders(spark, 5000, seed=42)
    assert _hash(a) == _hash(b)


def test_different_seed_different_output(spark):
    a = R.orders(spark, 5000, seed=42)
    b = R.orders(spark, 5000, seed=43)
    assert _hash(a) != _hash(b)


def test_orders_domains(spark):
    df = R.orders(spark, 5000, seed=1)
    row = df.agg(
        F.min("order_id").alias("min_id"),
        F.max("order_id").alias("max_id"),
        F.countDistinct("order_id").alias("n_ids"),
        F.min("amount").alias("min_amount"),
        F.max("amount").alias("max_amount"),
        F.min("source_id").alias("min_src"),
        F.max("source_id").alias("max_src"),
        F.min("order_year").alias("min_year"),
        F.max("order_year").alias("max_year"),
    ).first()
    assert (row.min_id, row.max_id, row.n_ids) == (0, 4999, 5000)  # G1 gap-free
    assert 0.0 <= row.min_amount and row.max_amount < 100.0  # G4 [0,100)
    assert 0 <= row.min_src and row.max_src <= 4  # G3 [0,5)
    assert 2019 <= row.min_year and row.max_year <= 2021  # [2019,2022)


def test_timestamp_quirks_preserved(spark):
    """The reference's G5 quirks: hour ∈ [0,22], February capped at 28."""
    df = V.ids(spark, 20000).select(
        F.expr(V.timestamp_in_year(2020, seed=9)).alias("ts")
    )
    row = df.agg(
        F.max(F.hour("ts")).alias("max_hour"),
        F.max(F.when(F.month("ts") == 2, F.dayofmonth("ts"))).alias("max_feb_day"),
        F.countDistinct(F.year("ts")).alias("n_years"),
    ).first()
    assert row.max_hour <= 22
    assert row.max_feb_day <= 28  # 2020 IS a leap year; quirk forces 28
    assert row.n_years == 1


def test_products_deterministic_columns(spark):
    df = R.products(spark, 120, seed=3, category="widget")
    rows = {r.product_id: r for r in df.collect()}
    colors = R.COLORS
    for pid in (0, 7, 59, 119):
        assert rows[pid].color == colors[pid % 10]  # Main.java:536
        d = rows[pid].created_date
        assert (d.year, d.month, d.day) == (2022 - pid // 12, 12 - pid % 12, 1)  # :537
    assert all(r.category == "widget" for r in rows.values())
    assert all(0.1 <= r.weight < 50.0 for r in rows.values())
    assert all(0 <= r.quantity < 10000 for r in rows.values())


def test_orders_partitioned_fixed_partition_values(spark):
    """R2 shape (`Main.java:486-497`): the partition column is pinned per
    slice; other generators still run per row."""
    df = R.orders_partitioned(spark, [0, 1, 2], 100, partition_col="source_id")
    assert df.count() == 300
    per = {r.source_id: r.n for r in df.groupBy("source_id").agg(F.count("*").alias("n")).collect()}
    assert per == {0: 100, 1: 100, 2: 100}
    years = df.select("order_year").distinct().collect()
    assert all(2019 <= r.order_year < 2022 for r in years)


def test_products_schema_projection(spark):
    narrow = R.products(spark, 10, columns=["product_id", "name", "category"])
    assert narrow.columns == ["product_id", "name", "category"]


def test_wide_metrics_shape(spark):
    df = R.wide_metrics(spark, n=30, n_metrics=999)
    assert len(df.columns) == 1000  # Main.java:76-82
    assert df.count() == 30
    row = df.agg(F.min("metric_0"), F.max("metric_998")).first()
    assert 0.0 <= row[0] and row[1] < 100.0


def test_string_range(spark):
    df = V.ids(spark, 1000).select(F.expr(V.string_range("aa", "dd", 4, seed=5)).alias("s"))
    rows = [r.s for r in df.collect()]
    assert all(len(s) == 4 for s in rows)
    assert all("a" <= s[0] < "d" for s in rows)  # position bounded by [lo, hi)
    assert all("a" <= s[2] <= "z" for s in rows)  # padded positions
