"""Streaming maintenance of retrieval corpus statistics (df / dl / N).

BM25 (operators/text.py::text_bm25_topk) scores against three corpus
statistics: per-term document frequency, per-document length, and the
(n_docs, total_dl) scalars.  Recomputing them over 100 TB on every index
refresh is the naive path; this sink maintains them INCREMENTALLY under
streaming ingest, the same delta-append IVM shape as
operators/incremental.py but for the retrieval family:

  batch → distinct (doc, term) → per-term df delta
        → per-batch (n_docs, sum_dl) scalar delta
        → APPEND both deltas to the stats store

The store is log-structured: writers only ever append small delta files
(no read-modify-write, so concurrent batches never conflict), and
readers aggregate `SUM(df) GROUP BY term` — a merge-on-read contract
identical to the MoR delete application in sources/lifecycle.py.  A
compaction pass (`compact_stats`) folds the log back to one row per term
when the delta count grows.  At 100 TB the delta per batch is
vocabulary-of-the-batch-sized, and the read-side merge is one shuffle on
the term key.

Delta writes are replay-safe (streaming/store.py): each batch's deltas
land in their own batch_id partition with dynamic overwrite, so a
crash-replay rewrites the same deltas instead of double-counting (r12
verdict #4).  Compaction folds the log into the reserved batch_id=-1
"base" partition with a STATIC overwrite (truncate-and-write), keeping
the directory layout uniformly partitioned; it is an offline maintenance
pass, run only while the stream is stopped.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from iceberg_table_generator_spark.functions.text import tokens
from iceberg_table_generator_spark.streaming.store import BATCH_COL, write_batch


def _batch_deltas(batch_df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(per-term df delta, 1-row corpus scalar delta) for a micro-batch."""
    tok = batch_df.select(
        "doc_id", F.explode(tokens()).alias("w")
    )
    df_delta = (
        tok.select("doc_id", "w")
        .distinct()
        .groupBy("w")
        .agg(F.count("*").alias("df"))
    )
    scalar_delta = tok.groupBy("doc_id").agg(F.count("*").alias("dl")).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("total_dl"),
    )
    return df_delta, scalar_delta


def textstats_process_batch(
    batch_df: DataFrame, batch_id: int, stats_dir: str
) -> None:
    """One micro-batch of the stats-maintenance sink (module-level for
    the replay test).  Deltas are pure functions of the batch, so a
    replay recomputes identical deltas; the batch_id-partition overwrite
    makes the rewrite idempotent."""
    if batch_df.isEmpty():
        return
    df_delta, scalar_delta = _batch_deltas(batch_df)
    write_batch(df_delta, os.path.join(stats_dir, "df"), batch_id)
    write_batch(scalar_delta, os.path.join(stats_dir, "scalars"), batch_id)


def incremental_text_stats(
    docs_stream: DataFrame,
    stats_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Start the stats-maintenance stream; returns the query handle."""

    df_dir = os.path.join(stats_dir, "df")
    scalar_dir = os.path.join(stats_dir, "scalars")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        textstats_process_batch(batch_df, batch_id, stats_dir)

    return (
        docs_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_text_stats(spark: SparkSession, stats_dir: str):
    """Merge-on-read view of the stats log: (df relation, scalars row)."""
    df = (
        spark.read.parquet(os.path.join(stats_dir, "df"))
        .drop(BATCH_COL)
        .groupBy("w")
        .agg(F.sum("df").alias("df"))
    )
    scalars = (
        spark.read.parquet(os.path.join(stats_dir, "scalars"))
        .drop(BATCH_COL)
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("total_dl").cast("long").alias("total_dl"),
        )
        .first()
    )
    return df, scalars


def _last_committed_batch(checkpoint_dir: str) -> int:
    """Highest batch id the Structured Streaming checkpoint has COMMITTED
    (the `commits/` dir holds one integer-named file per completed batch;
    -1 if none committed yet)."""
    commits = os.path.join(checkpoint_dir, "commits")
    ids = [-1]
    if os.path.isdir(commits):
        for name in os.listdir(commits):
            try:
                ids.append(int(name))
            except ValueError:
                continue  # .metadata / temp files
    return max(ids)


def compact_stats(
    spark: SparkSession, stats_dir: str, checkpoint_dir: str | None = None
) -> None:
    """Fold the delta log to one row per term (and one scalar row) — the
    maintenance pass that bounds read-side merge cost, same contract as
    lifecycle compaction.

    Crash-safety (r13 advice): a batch whose store write succeeded but
    whose checkpoint commit did NOT will be REPLAYED into its own
    batch_id partition on restart — folding it into the base partition
    first would double-count it (once in base -1, once in the replayed
    partition N).  Pass ``checkpoint_dir`` and compaction folds only
    partitions ≤ the checkpoint's last committed batch id, carrying any
    later (uncommitted, replay-pending) delta partitions through
    untouched.  Without ``checkpoint_dir`` the caller asserts a CLEAN
    stop — every written partition is known committed — and the whole
    log is folded."""
    cutoff = (
        _last_committed_batch(checkpoint_dir)
        if checkpoint_dir is not None
        else None
    )

    def fold(path: str, merge) -> None:
        log = spark.read.parquet(path)
        if cutoff is not None:
            foldable = log.filter(F.col(BATCH_COL) <= F.lit(cutoff))
            kept = log.filter(F.col(BATCH_COL) > F.lit(cutoff))
        else:
            foldable, kept = log, None
        # Materialize BEFORE the static overwrite truncates what we read;
        # both sides are vocabulary-/batch-count-bounded.
        merged = merge(foldable.drop(BATCH_COL)).localCheckpoint(eager=True)
        out = merged.withColumn(BATCH_COL, F.lit(-1))
        if kept is not None:
            out = out.unionByName(kept.localCheckpoint(eager=True))
        # STATIC overwrite: folded partitions vanish, base -1 holds the
        # fold, replay-pending partitions (> cutoff) are rewritten as-is.
        out.write.mode("overwrite").partitionBy(BATCH_COL).parquet(path)

    fold(
        os.path.join(stats_dir, "df"),
        lambda d: d.groupBy("w").agg(F.sum("df").cast("long").alias("df")),
    )
    fold(
        os.path.join(stats_dir, "scalars"),
        lambda d: d.agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("total_dl").cast("long").alias("total_dl"),
        ),
    )
