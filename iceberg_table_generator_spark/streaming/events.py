"""Structured Streaming pipelines over the events stream (SURVEY.md §2.7).

The reference is batch-only; streams are driver-mandated extension surface.
Pipelines here are the streaming twins of the batch event queries in
operators/relational.py — same windowing semantics, plus watermarks for
late data.  Tests run them with `Trigger.AvailableNow` over the testdata
parquet and assert equality with the batch results (the stream-batch parity
contract of Structured Streaming).

Scale posture: event-time windows + watermark bound state; the aggregation
state store is keyed by (window, event_type) — small; sessionization state
is per-user and dropped at watermark expiry.  On a cluster, swap the file
source for Kafka and the memory sink for an Iceberg/parquet sink — the
unbounded logical plan is identical.
"""

from __future__ import annotations

import os
import tempfile

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from iceberg_table_generator_spark.functions.sessions import SESSION_GAP_INTERVAL
from iceberg_table_generator_spark.session import ensure_session_confs
from iceberg_table_generator_spark.sources.tables import TABLE_SCHEMAS, table_path


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet, read with the batch
    loader's declared schema (sources/tables.py).

    Watermark-bearing column: `ts` (event time).  maxFilesPerTrigger keeps
    micro-batches bounded when replaying a directory."""
    ensure_session_confs(spark)
    path = table_path(sf_dir, "events")
    # The file stream source only accepts directories (new files arrive as
    # directory entries).  The testdata table is a single parquet file, so
    # stage a directory containing a symlink to it — a real deployment
    # streams from a landing directory or Kafka and skips this.
    if os.path.isfile(path):
        stage = os.path.join(
            tempfile.gettempdir(), f"stream_stage_{os.path.basename(sf_dir)}_events"
        )
        os.makedirs(stage, exist_ok=True)
        link = os.path.join(stage, "events.parquet")
        if not os.path.exists(link):
            os.symlink(path, link)
        path = stage
    stream = (
        spark.readStream.schema(TABLE_SCHEMAS["events"])
        .option("maxFilesPerTrigger", 4)
        .parquet(path)
    )
    # Watermarks require TIMESTAMP (with-local-tz): NTZ raises
    # EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE.  With the session pinned to UTC
    # the wall-clock values are identical to the batch loader's NTZ column.
    return stream.withColumn("ts", F.col("ts").cast("timestamp"))


def hourly_window_stream(spark: SparkSession, sf_dir: str, late_threshold: str = "2 hours") -> DataFrame:
    """Streaming tumbling 1-hour aggregate with watermark — the unbounded
    twin of `events_hourly_window`.  State per (window, event_type) is
    finalized and dropped `late_threshold` past the window end."""
    ev = read_events_stream(spark, sf_dir)
    return (
        ev.withWatermark("ts", late_threshold)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(25,6)")).cast("double"), 2).alias(
                "total_value"
            ),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
    )


def session_window_stream(
    spark: SparkSession, sf_dir: str, late_threshold: str = "2 hours"
) -> DataFrame:
    """Streaming sessionization via the built-in `session_window` — the
    unbounded twin of the batch `events_session_window`
    (operators/relational_ext.py), using the SAME dynamic-gap merge
    operator, so batch/stream parity is a property of the engine rather
    than of two hand-kept implementations.  State per open session is
    merged as events arrive and dropped once the event-time watermark
    passes session end + gap.  Tests drain with availableNow in complete
    mode (append would hold back sessions newer than the watermark at
    end-of-drain, breaking the parity assertion on a finite replay)."""
    ev = read_events_stream(spark, sf_dir)
    return (
        ev.withWatermark("ts", late_threshold)
        .groupBy(F.session_window("ts", SESSION_GAP_INTERVAL).alias("sw"), "user_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(25,6)")).cast("double"), 2
            ).alias("session_value"),
        )
        .select("user_id", "session_start", "session_end", "n_events", "session_value")
    )


def click_purchase_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream INTERVAL join: each click joins the same user's
    purchases landing within 30 minutes after it — the attribution query.

    Both sides carry watermarks and the join condition bounds event-time
    distance, so the state store provably expires rows: a buffered click
    can stop waiting once the purchase-side watermark passes click_ts +
    30 min (Spark derives the state-cleanup predicate from the interval
    condition — without it, stream-stream join state grows forever).
    Output mode append; the batch twin is the same join over the static
    table, asserted equal in tests."""
    clicks = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    return clicks.join(
        purchases,
        F.expr(
            """
            c_user = p_user AND
            purchase_ts >= click_ts AND
            purchase_ts <= click_ts + INTERVAL 30 MINUTES
            """
        ),
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        "click_ts",
        "purchase_ts",
        "purchase_value",
    )


def run_available_now(
    stream_df: DataFrame,
    query_name: str,
    checkpoint_dir: str,
    output_mode: str = "complete",
) -> DataFrame:
    """Drain everything currently available through the streaming engine into
    an in-memory sink table and return it as a DataFrame (test/dev runner;
    production uses a durable sink + continuous trigger).  Stream-stream
    joins and non-aggregating pipelines use output_mode='append'."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(query_name)
