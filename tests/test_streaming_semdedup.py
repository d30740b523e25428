"""Streaming SemDeDup: semantic re-arrivals are dropped against the
kept-exemplar store, and the per-batch rule matches the batch-side
definitions (`_semdedup_dropped` in-batch, `dedup_semdedup_incremental`
across batches)."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F

from iceberg_table_generator_spark.functions.cache import release_tracked
from iceberg_table_generator_spark.operators.similarity import ivf_index
from iceberg_table_generator_spark.operators.wave11 import (
    SEMDEDUP_TAU,
    _semdedup_dropped,
    semdedup_relation,
)
from iceberg_table_generator_spark.operators.wave12 import (
    dedup_semdedup_incremental,
)
from iceberg_table_generator_spark.sources.tables import table_path
from iceberg_table_generator_spark.streaming.semdedup import (
    incremental_semantic_dedup,
)


def _cos(u, v):
    return sum(a * b for a, b in zip(u.vec, v.vec)) / (u.nrm * v.nrm)


def test_streaming_semdedup_matches_batch_rules(spark, sf_small, tmp_path):
    """Arrival 1 = the 'old corpus' (vec_id % 10 != 0), arrival 2 = the
    'new batch' (vec_id % 10 = 0) — the exact split of the registered
    batch operator `dedup_semdedup_incremental`, so the stream's store
    after both arrivals is checkable against it rule by rule."""
    emb = spark.read.parquet(table_path(sf_small, "embeddings")).select(
        "vec_id", "embedding"
    )
    emb_pd = emb.toPandas()
    landing = tmp_path / "landing"
    landing.mkdir()
    old_pd = emb_pd[emb_pd.vec_id % 10 != 0]
    new_pd = emb_pd[emb_pd.vec_id % 10 == 0]
    pq.write_table(pa.Table.from_pandas(old_pd), landing / "arrival_1.parquet")
    pq.write_table(pa.Table.from_pandas(new_pd), landing / "arrival_2.parquet")

    # The SHARED cluster model of the batch SemDeDup family (fit once).
    cents = ivf_index(
        emb.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("vec")
        ),
        cache_key=sf_small,
    )
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(landing))
    )
    q = incremental_semantic_dedup(
        stream,
        cents,
        store_dir=str(tmp_path / "store"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()

    store = {
        r.vec_id: r
        for r in spark.read.parquet(str(tmp_path / "store")).collect()
    }

    # --- Arrival 1: the store's old rows = batch kept-old set exactly.
    m = semdedup_relation(spark, sf_small)
    old_m = m.filter(F.col("vec_id") % 10 != 0)
    dropped_old = {r.vec_id for r in _semdedup_dropped(old_m).collect()}
    expect_old_kept = {
        r.vec_id for r in old_m.collect() if r.vec_id not in dropped_old
    }
    got_old = {v for v in store if v % 10 != 0}
    assert got_old == expect_old_kept

    # --- Arrival 2 vs the registered batch operator: every batch 'drop'
    # verdict must be absent from the stream store (the history rule is
    # identical); the stream may drop MORE (it also applies the in-batch
    # prefix-dominance rule among the new vectors) — verify each extra
    # drop is genuinely shadowed by an earlier-ranked kept new vector.
    batch = {
        r.vec_id: r.verdict
        for r in dedup_semdedup_incremental(spark, sf_small).collect()
    }
    got_new = {v for v in store if v % 10 == 0}
    for vid, verdict in batch.items():
        if verdict == "drop":
            assert vid not in got_new, vid
    extra = {v for v, verdict in batch.items() if verdict == "keep"} - got_new
    if extra:
        members = {r.vec_id: r for r in m.filter(F.col("vec_id") % 10 == 0).collect()}
        kept_new = [members[v] for v in got_new]
        for vid in extra:
            v = members[vid]
            shadows = [
                u
                for u in kept_new
                if u.cid == v.cid
                and ((u.ccos, u.vec_id) < (v.ccos, v.vec_id))
                and _cos(u, v) >= SEMDEDUP_TAU
            ]
            # a dropped-new u may also shadow (upper-triangle rule) —
            # widen to all new members ranked before v
            if not shadows:
                shadows = [
                    u
                    for u in members.values()
                    if u.cid == v.cid
                    and ((u.ccos, u.vec_id) < (v.ccos, v.vec_id))
                    and _cos(u, v) >= SEMDEDUP_TAU
                ]
            assert shadows, vid

    # the fixture's planted near-dups must actually exercise the drops
    assert len(store) < len(emb_pd)
    release_tracked()


def test_streaming_semdedup_empty_batch_and_in_batch_duplicates(
    spark, sf_small, tmp_path
):
    """r11 ADVICE hardening: (a) an EMPTY micro-batch must not append a
    zero-row store directory (which would break the next batch's schema
    inference), and (b) a vec_id arriving TWICE in one micro-batch must
    collapse to one verdict / one store row instead of fanning out the
    keep-join."""
    emb = spark.read.parquet(table_path(sf_small, "embeddings")).select(
        "vec_id", "embedding"
    )
    sample_pd = emb.limit(8).toPandas()
    landing = tmp_path / "landing"
    landing.mkdir()
    # arrival 1: EMPTY file (schema only) — the batch body must no-op
    pq.write_table(
        pa.Table.from_pandas(sample_pd.iloc[0:0]), landing / "arrival_1.parquet"
    )
    # arrival 2: every row duplicated (same vec_id twice in one batch)
    import pandas as pd

    dup_pd = pd.concat([sample_pd, sample_pd], ignore_index=True)
    pq.write_table(pa.Table.from_pandas(dup_pd), landing / "arrival_2.parquet")

    cents = ivf_index(
        emb.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("vec")
        ),
        cache_key=sf_small,
    )
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(landing))
    )
    store_dir = tmp_path / "store"
    q = incremental_semantic_dedup(
        stream, cents, store_dir=str(store_dir), checkpoint_dir=str(tmp_path / "ckpt")
    )
    q.awaitTermination()

    rows = spark.read.parquet(str(store_dir)).collect()
    ids = [r.vec_id for r in rows]
    # each kept vec_id appears exactly once despite the in-batch duplicate
    assert len(ids) == len(set(ids))
    assert set(ids) <= set(sample_pd.vec_id)
    assert len(ids) >= 1
    release_tracked()
