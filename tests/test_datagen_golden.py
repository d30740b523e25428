"""Golden checksums and construction cost of the seeded generators.

The checksums were recorded from the Column-API generators, before they
were rewritten to emit SQL text: a generator change that moves any value,
type, column or row order fails here.  The round-trip budget counts py4j
commands sent from the main thread while a batch is built (no action).
"""

from __future__ import annotations

import hashlib
import threading
from contextlib import contextmanager

import pyspark.sql.functions as F
import pytest
from py4j.clientserver import ClientServerConnection

from iceberg_table_generator_spark.datagen import records as R
from iceberg_table_generator_spark.datagen import values as V


def checksum(df) -> str:
    """sha256 over the schema and every collected row, in output order.
    Python's float repr round-trips, so equal digests mean equal bits."""
    h = hashlib.sha256(df.schema.simpleString().encode())
    for row in df.collect():
        h.update(repr(tuple(row)).encode())
    return h.hexdigest()[:16]


def _values(spark, **cols):
    return V.ids(spark, 1000, 3).select(*[F.expr(t).alias(c) for c, t in cols.items()])


GOLDEN = {
    "orders_seed7": (lambda s: R.orders(s, 2000, seed=7, num_partitions=2), "5cd38879f85242b1"),
    "orders_seed_above_2_31": (
        lambda s: R.orders(s, 777, seed=2**31 + 5, num_partitions=5),
        "c151f8c4594950e4",
    ),
    "orders_year_range": (
        lambda s: R.orders(s, 500, seed=123456789, year_range=(1990, 2030), num_partitions=3),
        "4703176d5520eb33",
    ),
    "orders_partitioned_source_id": (
        lambda s: R.orders_partitioned(s, [0, 1, 2], 100, partition_col="source_id"),
        "750707c4832bc56f",
    ),
    "orders_partitioned_order_year": (
        lambda s: R.orders_partitioned(s, [2019, 2021], 150, seed=3),
        "a2cd2e5ea7f26756",
    ),
    "products_all_columns": (lambda s: R.products(s, 300, seed=3, num_partitions=4), "da9cc8754d5b1936"),
    "products_narrow": (
        lambda s: R.products(
            s, 120, seed=4, category="widget", columns=["product_id", "name", "category"],
            id_start=100,
        ),
        "98d4cc312bbf1a61",
    ),
    "products_quoted_category": (
        lambda s: R.products(s, 40, seed=5, category="o'neil \\ sons", num_partitions=2),
        "273d91c90ef6c713",
    ),
    "wide_metrics": (lambda s: R.wide_metrics(s, n=30, n_metrics=999), "662648e9861a2da8"),
    "string_char_range": (
        lambda s: _values(
            s,
            sr=V.string_range("aa", "dd", 4, seed=5),
            sr_fixed=V.string_range("k", "c", 3, seed=6, salt=2),
            cr=V.char_range("A", "z", seed=3, salt=1),
        ),
        "96563822c715b483",
    ),
    "timestamps_dates": (
        lambda s: _values(
            s,
            rt=V.random_timestamp(seed=11),
            rt_2000=V.random_timestamp(2000, seed=2**31 + 1, salt=4),
            d=V.date_in_year(2021, seed=13),
            d_col=V.date_in_year(V.uniform_int(1990, 2000, seed=1, salt=7), seed=14),
        ),
        "c05a2c6e0a43edf3",
    ),
}


@pytest.mark.parametrize("name", sorted(GOLDEN))
def test_generator_output_matches_golden(spark, name):
    build, digest = GOLDEN[name]
    assert checksum(build(spark)) == digest


def test_sql_literal_escapes_and_types_like_lit(spark):
    values = ["o'neil \\ sons", "\\'", 7, -(2**31), 2**31, 2**31 + 5, 0.1, 1e-05, 49.9]
    sql = spark.sql("SELECT " + ", ".join(f"{V.sql_literal(v)} AS c{i}" for i, v in enumerate(values)))
    lit = spark.range(1).select(*[F.lit(v).alias(f"c{i}") for i, v in enumerate(values)])
    assert sql.schema == lit.schema
    assert tuple(sql.first()) == tuple(values)


@contextmanager
def count_round_trips():
    """Count py4j commands the main thread sends while the block runs."""
    counter = {"n": 0}
    original = ClientServerConnection.send_command
    main = threading.main_thread()

    def counted(self, command):
        if threading.current_thread() is main:
            counter["n"] += 1
        return original(self, command)

    ClientServerConnection.send_command = counted
    try:
        yield counter
    finally:
        ClientServerConnection.send_command = original


@pytest.mark.parametrize(
    "name, build, budget",
    [
        ("orders", lambda s: R.orders(s, 2000, seed=7, num_partitions=2), 20),
        ("products", lambda s: R.products(s, 2000, seed=7, num_partitions=2), 20),
        ("wide_metrics", lambda s: R.wide_metrics(s, n=30, n_metrics=999), 20),
    ],
)
def test_batch_construction_round_trip_budget(spark, name, build, budget):
    build(spark)  # first call pays one-off JVM class loading
    with count_round_trips() as rt:
        build(spark)
    assert 0 < rt["n"] <= budget, f"{name}: {rt['n']} py4j round trips"
