"""Exactly-once streaming ingest into a versioned snapshot table.

Structured Streaming's checkpoint guarantees each epoch (micro-batch id)
is PROCESSED at least once; exactly-once delivery needs the sink to make
replays idempotent.  The parquet-append sink in streaming/dedup.py
documents that gap; this sink closes it the way Iceberg's own streaming
writer does (commit the epoch id with the snapshot, skip already-committed
epochs on replay — iceberg-spark's SparkWrite streaming commits store
the epoch in the snapshot summary for the same reason).

The epoch marker lives in the snapshot's properties map, so marker and
data commit in ONE atomic metadata swap: a crash between "data written"
and "epoch recorded" is impossible, and a restarted query re-delivering
epoch N finds `streaming.last-epoch >= N` at the table head and drops the
replay without writing a byte.

Scale posture: each micro-batch is one distributed append (executors
write parquet in parallel); the idempotence check is one driver-side
metadata read — O(1) per batch regardless of table size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from iceberg_table_generator_spark.sources.lifecycle import ParquetSnapshotTable

EPOCH_PROP = "streaming.last-epoch"


def snapshot_epoch_sink(table: ParquetSnapshotTable, num_files: int | None = None):
    """foreachBatch handler committing each micro-batch as one snapshot,
    idempotent on the epoch id.  Exposed separately from the query wiring
    so replay behavior is directly testable (call it twice with the same
    batch_id: the second call must be a no-op)."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        last = int(table.snapshot().properties.get(EPOCH_PROP, -1))
        if batch_id <= last:
            return  # replayed epoch: already committed atomically with its data
        table.append(
            batch_df,
            num_files=num_files,
            properties={EPOCH_PROP: str(batch_id)},
        )

    return process


def ingest_stream_to_table(
    stream_df: DataFrame,
    table: ParquetSnapshotTable,
    checkpoint_dir: str,
    num_files: int | None = None,
) -> StreamingQuery:
    """Start an availableNow ingest of `stream_df` into `table`: one
    snapshot per micro-batch, exactly-once under restart/replay."""
    return (
        stream_df.writeStream.foreachBatch(snapshot_epoch_sink(table, num_files))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def snapshot_epoch_sink_with_agg(
    table: ParquetSnapshotTable,
    agg_table: ParquetSnapshotTable,
    keys: list[str],
    sum_cols: dict[str, str],
    count_col: str = "cnt",
):
    """foreachBatch handler that commits each micro-batch to `table` AND
    folds the same batch into a maintained SUM/COUNT aggregate in
    `agg_table` — the streaming materialized view: per epoch, aggregate
    state is O(groups) and refresh cost is O(batch), never a rescan.

    Exactly-once on both tables via the same epoch marker: each table
    skips epochs it has already committed, so a replay after a crash
    between the two commits heals to the consistent state (the data
    commit is idempotent-skipped, the missing agg commit re-runs from the
    SAME immutable batch).  Latest aggregate state = `agg_table.read()`
    at head; every epoch's state stays time-travelable."""
    from iceberg_table_generator_spark.operators.incremental import apply_agg_delta

    import pyspark.sql.functions as F

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # localCheckpoint: both commits must see the same rows even if the
        # source rescans nondeterministically
        batch_df = batch_df.localCheckpoint(eager=True)
        marker = {EPOCH_PROP: str(batch_id)}
        if int(table.snapshot().properties.get(EPOCH_PROP, -1)) < batch_id:
            table.append(batch_df, properties=marker)
        head = agg_table.snapshot()
        if int(head.properties.get(EPOCH_PROP, -1)) < batch_id:
            base = agg_table.read(with_row_id=False) if head.data_files else None
            delta = batch_df.withColumn("_change_type", F.lit("insert"))
            if base is None:
                new_state = (
                    delta.groupBy(*keys)
                    .agg(
                        F.count(F.lit(1)).alias(count_col),
                        *[
                            F.sum(F.col(src)).alias(out)
                            for out, src in sum_cols.items()
                        ],
                    )
                )
            else:
                new_state = apply_agg_delta(base, delta, keys, sum_cols, count_col)
            # full-state rewrite per epoch: state is O(groups), tiny next
            # to the batch; at scale this becomes a MERGE on the group key
            agg_table.overwrite(new_state, num_files=1, properties=marker)

    return process


__all__ = [
    "EPOCH_PROP",
    "snapshot_epoch_sink",
    "snapshot_epoch_sink_with_agg",
    "ingest_stream_to_table",
]
