"""Versioned-table lifecycle: the reference's golden ledger + evolution.

The central assertion reproduces the hand-verified row-count ledger of
`Main.java:328-354` (FIXTURES.md A2) snapshot by snapshot."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from iceberg_table_generator_spark.sources import scenarios
from iceberg_table_generator_spark.sources.lifecycle import ParquetSnapshotTable


def test_golden_ledger_products(spark, tmp_path):
    """200 → 170 → 370 → 333 → 933 → 453 → 450 (Main.java:328-354)."""
    t = scenarios.products_with_deletes(spark, str(tmp_path / "products"))
    snaps = t.snapshots()
    expected = {
        1: 200,  # +200 widget
        2: 170,  # - product_id < 30
        3: 370,  # +200 gizmo
        4: 333,  # - color = 'green'
        5: 933,  # +600 gadget
        6: 453,  # - product_id % 200 >= 100
        7: 450,  # - 50 <= product_id < 53 (positional)
    }
    for sid, want in expected.items():
        got = t.read(version=sid).count()
        assert got == want, f"snapshot {sid}: expected {want} visible rows, got {got}"
    assert len(snaps) == 8  # create + 7 operations
    assert [s.operation for s in snaps] == [
        "create", "append", "delete-equality", "append", "delete-equality",
        "append", "delete-equality", "delete-positional",
    ]


def test_golden_ledger_delete_composition(spark, tmp_path):
    """Total deletes split 547 equality + 3 positional (Main.java:350-353)."""
    t = scenarios.products_with_deletes(spark, str(tmp_path / "p2"))
    final = t.read(with_row_id=False)
    assert final.count() == 450
    # the positional delete removed ids 50,51,52
    assert final.filter("product_id >= 50 AND product_id < 53").count() == 0
    # equality deletes apply to rows present AT DELETE TIME (MoR semantics):
    # later appends may legitimately re-introduce matching rows.
    assert final.filter("product_id < 30").count() == 0  # no later append reused ids < 30
    # green delete ran before the +600 gadget append (ids 400+): only those survive
    assert final.filter("color = 'green' AND product_id < 400").count() == 0
    # the %200 delete ran after the last append: no survivors at all
    assert final.filter("product_id % 200 >= 100").count() == 0


def test_small_orders_partitioned(spark, tmp_path):
    t = scenarios.create_small_orders(spark, str(tmp_path / "orders"))
    df = t.read(with_row_id=False)
    assert df.count() == 600
    years = {r.order_year for r in df.select("order_year").distinct().collect()}
    assert years == {2019, 2020, 2021}
    # partition pruning surface: physical layout has order_year=... dirs
    assert df.filter("order_year = 2020").count() == 200


def test_delete_commits_accumulate_snapshots(spark, tmp_path):
    t = scenarios.create_unpartitioned_orders_with_deletes(
        spark, str(tmp_path / "big"), n=500, n_delete_commits=5
    )
    snaps = t.snapshots()
    assert len(snaps) == 7  # create + append + 5 deletes (Main.java:322-325 shape)
    assert t.read().count() == 500 - 5  # one order_id matches each predicate
    # time travel: before any delete
    assert t.read(version=1).count() == 500


def test_schema_evolution(spark, tmp_path):
    t = scenarios.products_with_schema_evolution(spark, str(tmp_path / "evo"))
    df = t.read(with_row_id=False)
    assert df.columns == ["name", "category", "color"]  # product_id dropped
    assert df.count() == 200
    # pre-evolution rows surface NULL color (added column), post have values
    assert df.filter("color IS NULL").count() == 100
    assert df.filter("color IS NOT NULL").count() == 100
    # VERSION AS OF before evolution still shows product_id
    v1 = t.read(version=1)
    assert "product_id" in v1.columns


def test_partition_evolution(spark, tmp_path):
    t = scenarios.orders_with_partition_evolution(spark, str(tmp_path / "pevo"))
    assert t.read().count() == 600
    specs = [s.partition_by for s in t.snapshots()]
    assert ["order_year"] in specs and ["source_id"] in specs


def test_wide_metrics(spark, tmp_path):
    t = scenarios.wide_metrics_table(spark, str(tmp_path / "wide"), n_rows=30)
    df = t.read(with_row_id=False)
    assert len(df.columns) == 1000
    assert df.count() == 30


def test_compaction_preserves_rows_and_history(spark, tmp_path):
    """rewrite_data_files semantics: same visible rows, zero delete files,
    bounded file count, time travel intact."""
    t = scenarios.products_with_deletes(spark, str(tmp_path / "cmp"))
    before = {r.product_id for r in t.read(with_row_id=False).select("product_id").collect()}
    snap = t.compact(target_files=2)
    after = {r.product_id for r in t.read(with_row_id=False).select("product_id").collect()}
    assert after == before and len(after) == 450
    assert snap.delete_files == []
    # only the rewrite's files remain (per-file entries, Iceberg-manifest
    # style), bounded by target_files per partition
    import os

    assert all(
        os.path.basename(e[0]).startswith("compact-") for e in snap.data_files
    ), snap.data_files
    n_partitions = 3  # products categories
    assert len(snap.data_files) <= 2 * n_partitions
    # time travel to pre-compaction snapshots still resolves old files
    assert t.read(version=5).count() == 933
    # further deletes work against the compacted layout
    t.delete_where("product_id >= 900")
    assert t.read().count() == 450 - len({p for p in after if p >= 900})


def test_read_respects_column_projection_order(spark, tmp_path):
    t = ParquetSnapshotTable(spark, str(tmp_path / "proj")).create(["a", "b"])
    t.append(spark.range(10).select(F.col("id").alias("a"), (F.col("id") * 2).alias("b")))
    assert t.read(with_row_id=False).columns == ["a", "b"]


def test_row_ids_unique_across_snapshots_many_partitions(spark, tmp_path):
    """Row ids must stay unique when a batch has >=128 input partitions —
    the r1 packed (sid << 40) + monotonically_increasing_id scheme
    collided across snapshots because mono ids embed partitionId << 33
    (ADVICE r1).  Now ids are Iceberg's (file, pos) tuple, unique by
    construction."""
    t = ParquetSnapshotTable(spark, str(tmp_path / "many_parts")).create(["k"])
    df = spark.range(300).select(F.col("id").alias("k")).repartition(150)
    t.append(df)
    t.append(df)
    read = t.read()
    assert read.count() == 600
    assert read.select("__row_id").distinct().count() == 600
    # positional delete scoped to snapshot 2's files must not touch
    # snapshot 1's identical rows
    t.delete_where("__row_id.file LIKE '%/snap-2-%' AND k < 1000", mode="positional")
    assert t.read().count() == 300


def test_add_files_registers_external_parquet(spark, tmp_path):
    """S5: pre-made parquet registered in place (no rewrite) becomes
    visible rows and participates in positional deletes."""
    ext = str(tmp_path / "external_files")
    spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("v")
    ).coalesce(1).write.parquet(ext)
    t = ParquetSnapshotTable(spark, str(tmp_path / "with_ext")).create(["k", "v"])
    t.append(spark.range(100, 150).select(F.col("id").alias("k"), F.lit(9).alias("v")))
    t.add_files([ext])
    assert t.read().count() == 150
    assert t.snapshots()[-1].operation == "add-files"
    # external rows are deletable positionally like native ones
    t.delete_where("v = 1", mode="positional")  # 33 external rows
    assert t.read().count() == 150 - 33
    # time travel still sees the pre-delete state
    assert t.read(version=2).count() == 150


def test_empty_table_read_preserves_types(spark, tmp_path):
    """A freshly created or fully-deleted table must read back with the
    recorded column types, not all-string fabrication (ADVICE r1)."""
    t = ParquetSnapshotTable(spark, str(tmp_path / "typed_empty")).create(["k", "v"])
    # snapshot-0 (never appended): falls back to string, but must not crash
    assert dict(t.read(with_row_id=False).dtypes) == {"k": "string", "v": "string"}
    df = spark.range(5).select(
        F.col("id").alias("k"), (F.col("id") * 1.5).alias("v")
    )
    t.append(df)
    t.delete_where("k >= 0", mode="equality")
    empty = t.read(with_row_id=False)
    assert empty.count() == 0


def test_multi_rowgroup_layout_control(spark, tmp_path):
    """E3: write.parquet.row-group-size-bytes must reach the parquet writer —
    16 KiB row groups over 3000 rows/file must yield multiple row groups
    (reference `createMultiRowGroupOrdersWithDeletes`, Main.java:176-206)."""
    import glob

    import pyarrow.parquet as pq

    from iceberg_table_generator_spark.sources.scenarios import (
        multi_rowgroup_orders_with_deletes,
    )

    t = multi_rowgroup_orders_with_deletes(spark, str(tmp_path / "multi_rg"))
    files = glob.glob(str(tmp_path / "multi_rg" / "data" / "**" / "*.parquet"),
                      recursive=True)
    assert files
    rg_counts = [pq.ParquetFile(f).metadata.num_row_groups for f in files]
    assert max(rg_counts) > 1, rg_counts
    # ledger: 9000 inserted; deletes only touch 2020/2021 as in the reference
    assert t.read(version=3).count() == 9000
    assert t.read().count() < 9000
    # snapshot history: create + 3 appends + 3 delete commits
    assert len(t.snapshots()) == 7


def test_forced_100_row_rowgroups(spark, tmp_path):
    """row-group-size-bytes=1 forces parquet-mr's 100-row check interval to
    flush every 100 rows (reference Main.java:363-368)."""
    import glob

    import pyarrow.parquet as pq

    t = ParquetSnapshotTable(spark, str(tmp_path / "tiny_rg")).create(
        ["k"], properties={"write.parquet.row-group-size-bytes": "1"}
    )
    t.append(spark.range(400).select(F.col("id").alias("k")), num_files=1)
    files = glob.glob(str(tmp_path / "tiny_rg" / "data" / "**" / "*.parquet"), recursive=True)
    assert len(files) == 1
    meta = pq.ParquetFile(files[0]).metadata
    assert meta.num_row_groups == 4, meta.num_row_groups
    assert all(meta.row_group(i).num_rows == 100 for i in range(4))


def test_long_identifier_table(spark, tmp_path):
    """>200-char table identifier end to end (reference Main.java:228-249)."""
    from iceberg_table_generator_spark.sources.scenarios import (
        LONG_TABLE_NAME,
        orders_with_long_paths,
    )

    assert len(LONG_TABLE_NAME) > 200
    t = orders_with_long_paths(spark, str(tmp_path))
    assert LONG_TABLE_NAME in t.path
    assert t.read(version=3).count() == 3000
    assert t.read().count() == 3000 - 900  # order_id < 900 in 2019 deleted


def test_merge_upsert_by_key(spark, tmp_path):
    """MERGE INTO semantics from the MoR primitives: matched keys take the
    new row version, unmatched keys append, data files never rewritten."""
    t = ParquetSnapshotTable(spark, str(tmp_path / "merge")).create(["k", "v"])
    t.append(
        spark.range(10).select(F.col("id").alias("k"), F.lit("old").alias("v"))
    )
    upd = spark.createDataFrame(
        [(5, "new"), (7, "new"), (100, "new")], "k bigint, v string"
    )
    t.merge(upd, keys=["k"])
    rows = {r.k: r.v for r in t.read(with_row_id=False).collect()}
    assert len(rows) == 11
    assert rows[5] == "new" and rows[7] == "new" and rows[100] == "new"
    assert rows[0] == "old" and rows[9] == "old"
    # merge commits delete file + data files in ONE atomic snapshot
    # (Iceberg merge-on-read MERGE; ADVICE r2)
    ops = [s.operation for s in t.snapshots()]
    assert ops == ["create", "append", "merge"]
    last = t.snapshots()[-1]
    assert last.delete_files and last.data_files
    # a second merge on the same key wins again (sequence rule end to end)
    t.merge(
        spark.createDataFrame([(5, "newest")], "k bigint, v string"), keys=["k"]
    )
    rows = {r.k: r.v for r in t.read(with_row_id=False).collect()}
    assert rows[5] == "newest" and len(rows) == 11


def test_sorted_append_clusters_row_groups(spark, tmp_path):
    """Iceberg write.sort-order equivalent: sort_by clustering must give
    row groups with tight, non-overlapping min/max ranges so sorted-column
    predicates prune at the row-group level."""
    import glob

    import pyarrow.parquet as pq

    t = ParquetSnapshotTable(spark, str(tmp_path / "sorted")).create(
        ["k", "v"], properties={"write.parquet.row-group-size-bytes": "1"}
    )
    df = spark.range(2000).select(
        (F.xxhash64("id") % 100000).alias("k"), F.col("id").alias("v")
    )
    t.append(df, num_files=2, sort_by=["k"])
    files = sorted(glob.glob(str(tmp_path / "sorted" / "data" / "**" / "*.parquet"), recursive=True))
    assert len(files) == 2
    all_ranges = []
    for f in files:
        meta = pq.ParquetFile(f).metadata
        assert meta.num_row_groups > 1
        ranges = [
            (
                meta.row_group(i).column(0).statistics.min,
                meta.row_group(i).column(0).statistics.max,
            )
            for i in range(meta.num_row_groups)
        ]
        # row groups within a sorted file must be non-overlapping
        for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
            assert hi1 <= lo2, (f, ranges)
        all_ranges.append((ranges[0][0], ranges[-1][1]))
    # range partitioning: files themselves cover disjoint key ranges
    all_ranges.sort()
    assert all_ranges[0][1] <= all_ranges[1][0]
    assert t.read().count() == 2000


def test_lifecycle_read_partition_pruning(spark, tmp_path):
    """A filter on the partition column must reach the scan as a partition
    filter (directory pruning), not a row filter over all partitions."""
    from iceberg_table_generator_spark.plans import explain

    t = scenarios.create_small_orders(spark, str(tmp_path / "pp_orders"))
    df = t.read(with_row_id=False).filter("order_year = 2020")
    plan = explain.plan_text(df)
    assert "PartitionFilters" in plan
    assert "order_year" in plan.split("PartitionFilters", 1)[1][:200], plan[:2000]
    assert df.count() == 200


def test_rollback_and_expire(spark, tmp_path):
    """rollback_to records a new snapshot pointing at old state;
    expire_snapshots prunes history and deletes orphaned files."""
    import glob

    t = ParquetSnapshotTable(spark, str(tmp_path / "maint")).create(["k"])
    t.append(spark.range(10).select(F.col("id").alias("k")))
    t.append(spark.range(10, 30).select(F.col("id").alias("k")))
    t.delete_where("k < 5", mode="positional")
    assert t.read().count() == 25
    # rollback to snapshot 1 (only the first 10 rows, no deletes)
    t.rollback_to(1)
    assert t.read().count() == 10
    assert t.snapshots()[-1].operation == "rollback"
    # pre-rollback state is still time-travelable...
    assert t.read(version=3).count() == 25
    # ...until expiration prunes it and removes the now-orphaned files
    n_dirs_before = len(glob.glob(str(tmp_path / "maint" / "*" / "*")))
    removed = t.expire_snapshots(keep_last=1)
    assert removed, "expire should remove the orphaned snap-2 data dir"
    assert len(glob.glob(str(tmp_path / "maint" / "*" / "*"))) < n_dirs_before
    assert t.read().count() == 10  # current state untouched
    assert len(t.snapshots()) == 1


def test_concurrent_commit_detection(spark, tmp_path):
    """Optimistic concurrency: a writer whose parent snapshot moved under
    it must fail with ConcurrentCommitError, not clobber history."""
    from iceberg_table_generator_spark.sources.lifecycle import ConcurrentCommitError

    path = str(tmp_path / "cc")
    t1 = ParquetSnapshotTable(spark, path).create(["k"])
    t1.append(spark.range(5).select(F.col("id").alias("k")))
    # writer 2 commits in between
    ParquetSnapshotTable(spark, path).append(
        spark.range(5, 9).select(F.col("id").alias("k"))
    )
    # t1's next commit uses a stale parent via the internal API
    with pytest.raises(ConcurrentCommitError):
        t1._commit("append", expected_parent=1, data_files=[])
    # the normal path re-reads metadata and proceeds fine
    t1.append(spark.range(9, 10).select(F.col("id").alias("k")))
    assert t1.read().count() == 10


def test_timestamp_as_of_read(spark, tmp_path):
    """FOR TIMESTAMP AS OF: reads resolve to the last snapshot committed
    at or before the wall-clock."""
    import time as _time

    t = ParquetSnapshotTable(spark, str(tmp_path / "ts_travel")).create(["k"])
    t.append(spark.range(10).select(F.col("id").alias("k")))
    t1 = t.snapshots()[-1].timestamp_ms
    _time.sleep(0.05)
    t.append(spark.range(10, 30).select(F.col("id").alias("k")))
    assert t.read(as_of_timestamp_ms=t1).count() == 10
    assert t.read(as_of_timestamp_ms=t.snapshots()[-1].timestamp_ms).count() == 30
    with pytest.raises(ValueError):
        t.read(as_of_timestamp_ms=t1 - 1_000_000)
    with pytest.raises(ValueError):
        t.read(version=1, as_of_timestamp_ms=t1)


def test_small_orders_with_deletes_interleaved_ledger(spark, tmp_path):
    """Interleaved append/delete ledger (Main.java:149-175): deletes bind
    to rows visible at delete time; the empty registered file adds zero
    rows but a real snapshot."""
    t = scenarios.small_orders_with_deletes(spark, str(tmp_path / "interleaved"))
    # +200(2019) +200(2020) = 400; -%10==0 in 19/20 = -40 -> 360
    # +200(2020) +200(2021) -> 760; -%10==3 in 19/20 (3 batches x 20) = -60 -> 700
    # +empty file -> 700; -%10==6 in 2021 = -20 -> 680
    expected = {2: 400, 3: 360, 5: 760, 6: 700, 7: 700, 8: 680}
    for sid, want in expected.items():
        assert t.read(version=sid).count() == want, sid
    ops = [s.operation for s in t.snapshots()]
    assert ops == [
        "create", "append", "append", "delete-positional", "append", "append",
        "delete-positional", "add-files", "delete-positional",
    ]


def test_changelog_read(spark, tmp_path):
    """Incremental CDC read: inserts and deletes between two versions."""
    t = ParquetSnapshotTable(spark, str(tmp_path / "cdc")).create(["k"])
    t.append(spark.range(10).select(F.col("id").alias("k")))          # v1
    t.append(spark.range(10, 25).select(F.col("id").alias("k")))      # v2
    t.delete_where("k < 5", mode="positional")                        # v3
    ch = t.read_changes(1, 3)
    by_type = {r["_change_type"]: set() for r in ch.select("_change_type").distinct().collect()}
    for r in ch.collect():
        by_type[r["_change_type"]].add(r.k)
    assert by_type["insert"] == set(range(10, 25))
    assert by_type["delete"] == {0, 1, 2, 3, 4}
    # full-span diff: net state vs empty-ish start
    ch_all = t.read_changes(0)
    assert ch_all.filter("_change_type = 'insert'").count() == 20  # final visible
    assert ch_all.filter("_change_type = 'delete'").count() == 0


def test_read_plan_flat_in_commit_count(spark, tmp_path):
    """The reference's flagship scenario is a 100-delete-commit table
    (Main.java:311-326): read() planning must stay FLAT in commit count —
    one leaf-file scan, one broadcast sequence-number attach, and ONE
    coalesced equality anti-join, no matter how many commits built the
    table (the r2 form planned one union per data dir + one anti-join per
    delete commit: O(snapshots) Catalyst analysis cost)."""
    import time

    from iceberg_table_generator_spark.plans import explain

    t = ParquetSnapshotTable(spark, str(tmp_path / "flat")).create(["k", "v"])
    t.append(
        spark.range(1000).select(F.col("id").alias("k"), (F.col("id") % 7).alias("v")),
        num_files=2,
    )
    for i in range(100):
        t.delete_where(f"k = {i * 7}", mode="equality", equality_columns=["k"])
    assert len(t.snapshots()) == 102
    t0 = time.time()
    df = t.read()
    kinds = explain.join_kinds(df)  # forces full analysis + physical planning
    elapsed = time.time() - t0
    n_joins = sum(kinds.values())
    assert n_joins <= 3, kinds
    assert kinds["SortMergeJoin"] == 0, kinds
    # planning a 102-commit table must cost the same as a 2-commit one
    # (typically well under a second; bound leaves headroom for slow CI)
    assert elapsed < 2.5, f"planning took {elapsed:.1f}s"
    # 100 deleted k values (0, 7, ..., 693), one row each
    assert df.count() == 900


def test_read_plan_broadcast_deletes_and_partition_pruning(spark, tmp_path):
    """MoR delete application must stay broadcast (no sort-merge join on
    the data side), and a partition-column predicate must reach the
    scan's PartitionFilters — directory-level pruning in the shared
    data/<partition>/ layout."""
    from iceberg_table_generator_spark.plans import explain

    t = scenarios.create_small_orders(spark, str(tmp_path / "planchk"))
    t.delete_where("order_id % 10 = 0", mode="positional")
    t.delete_where("source_id = 3", mode="equality", equality_columns=["source_id"])
    df = t.read()
    kinds = explain.join_kinds(df)
    assert kinds["SortMergeJoin"] == 0 and kinds["ShuffledHashJoin"] == 0, kinds
    # positional anti + equality anti, both broadcast (sequence numbers
    # attach as a map lookup, not a join)
    assert kinds["BroadcastHashJoin"] >= 2, kinds
    pruned = df.filter("order_year = 2020")
    txt = explain.plan_text(pruned)
    pf = [ln for ln in txt.splitlines() if "PartitionFilters" in ln]
    assert pf and "order_year" in "".join(pf), txt[:1500]


def test_read_plan_mor_has_no_side_relations(spark, tmp_path):
    """Delete application builds no driver-side relation and no shuffle:
    sequence numbers are map lookups from the snapshot log (no
    `Scan ExistingRDD`), and each equality-column set is one broadcast
    anti-join with no aggregate over the delete files (no `Exchange`)."""
    from iceberg_table_generator_spark.plans import explain

    t = ParquetSnapshotTable(spark, str(tmp_path / "sides")).create(["k", "g", "v"])
    t.append(
        spark.range(40).select(
            F.col("id").alias("k"), (F.col("id") % 4).alias("g"), F.lit("x").alias("v")
        ),
        num_files=2,
    )
    t.delete_where("k % 10 = 0", mode="positional")
    t.delete_where("k = 3", mode="equality", equality_columns=["k"])
    t.delete_where("k = 5", mode="equality", equality_columns=["k"])
    t.delete_where("g = 1", mode="equality", equality_columns=["g"])
    df = t.read()
    txt = explain.plan_text(df, mode="simple")
    assert "Scan ExistingRDD" not in txt, txt
    assert explain.exchange_count(df) == 0, txt
    assert explain.join_kinds(df)["BroadcastHashJoin"] == 3, txt
    # 40 rows - {0,10,20,30} - {3,5} - g=1 {1,5,9,...,37} (5 already gone)
    assert sorted(r.k for r in df.collect()) == [
        k for k in range(40) if k % 10 and k not in (3, 5) and k % 4 != 1
    ]


def test_deletes_apply_under_a_table_path_that_needs_uri_quoting(spark, tmp_path):
    """The reader reports file paths URI-quoted (a space as %20, `%` as
    %25, `+` kept): per-file sequence numbers and partial compaction must
    still find the files the metadata log records by plain path."""
    t = ParquetSnapshotTable(spark, str(tmp_path / "a b%41+c")).create(
        ["k", "g"], partition_by=["g"]
    )
    t.append(spark.range(8).select(F.col("id").alias("k"), (F.col("id") % 2).alias("g")))
    t.delete_where("k = 2", mode="equality", equality_columns=["k"])
    t.delete_where("k = 4", mode="positional")
    want = [0, 1, 3, 5, 6, 7]
    assert sorted(r.k for r in t.read().collect()) == want
    t.compact(target_files=1, where="g = 0")
    assert len({e[1] for e in t.snapshots()[-1].data_files}) == 2  # partial
    assert sorted(r.k for r in t.read().collect()) == want


def test_merge_null_delete_condition_falls_through_to_update(spark, tmp_path):
    """WHEN MATCHED AND cond THEN DELETE with cond NULL is not satisfied:
    the row falls through to WHEN MATCHED THEN UPDATE (SQL semantics),
    rather than being deleted and never re-added."""
    t = ParquetSnapshotTable(spark, str(tmp_path / "nullcond")).create(["k", "v"])
    t.append(spark.range(4).select(F.col("id").alias("k"), F.lit("x").alias("v")))
    src = spark.createDataFrame([(1, "kill"), (2, None)], "k bigint, v string")
    t.merge(src, keys=["k"], when_matched_update="*", when_matched_delete="s.v = 'kill'")
    rows = sorted((r.k, r.v) for r in t.read(with_row_id=False).collect())
    assert rows == [(0, "x"), (2, None), (3, "x")]


def test_read_after_key_type_widening_and_merge(spark, tmp_path):
    """Equality-delete files written before and after a key's type widened
    (int → bigint) read together: delete files take the key types the
    snapshot records instead of merging their footer schemas."""
    t = ParquetSnapshotTable(spark, str(tmp_path / "widen")).create(["k", "v"])
    t.append(spark.createDataFrame([(i, "a") for i in range(4)], "k int, v string"))
    t.delete_where("k = 1", mode="equality", equality_columns=["k"])
    t.append(spark.createDataFrame([(10, "b"), (11, "b")], "k bigint, v string"))
    t.merge(
        spark.createDataFrame([(2, "m"), (11, "m"), (20, "m")], "k bigint, v string"),
        keys=["k"],
    )
    df = t.read(with_row_id=False)
    assert df.schema["k"].dataType.simpleString() == "bigint"
    rows = sorted((r.k, r.v) for r in df.collect())
    assert rows == [(0, "a"), (2, "m"), (3, "a"), (10, "b"), (11, "m"), (20, "m")]
    t.compact(target_files=1)
    assert sorted((r.k, r.v) for r in t.read(with_row_id=False).collect()) == rows
    # a wider source key than the target's, with new versions built from
    # the target row: the commit records the type its delete file holds
    t2 = ParquetSnapshotTable(spark, str(tmp_path / "widen2")).create(["k", "v"])
    t2.append(spark.createDataFrame([(1, "a"), (2, "a")], "k int, v string"))
    t2.merge(
        spark.createDataFrame([(2, "m"), (1 << 40, "m")], "k bigint, v string"),
        keys=["k"],
        when_matched_update={"v": "s.v"},
        when_not_matched_insert=False,
    )
    assert sorted((r.k, r.v) for r in t2.read(with_row_id=False).collect()) == [
        (1, "a"),
        (2, "m"),
    ]


def test_conditional_merge_update_delete_insert(spark, tmp_path):
    """Full MERGE INTO clause set in ONE atomic snapshot: WHEN MATCHED AND
    cond THEN DELETE, WHEN MATCHED THEN UPDATE SET <exprs>, WHEN NOT
    MATCHED THEN INSERT — golden-ledger style counts per clause."""
    t = ParquetSnapshotTable(spark, str(tmp_path / "cmerge")).create(["k", "qty", "status"])
    t.append(
        spark.range(10).select(
            F.col("id").alias("k"),
            (F.col("id") * 10).alias("qty"),
            F.lit("live").alias("status"),
        )
    )
    src = spark.createDataFrame(
        # k 2,4: update (qty accumulates); k 6,8: source says retire -> delete;
        # k 100,101: new keys -> insert
        [(2, 5, "live"), (4, 7, "live"), (6, 0, "retire"), (8, 0, "retire"),
         (100, 1, "live"), (101, 2, "live")],
        "k bigint, qty bigint, status string",
    )
    snap = t.merge(
        src,
        keys=["k"],
        when_matched_update={"qty": "t.qty + s.qty", "status": "s.status"},
        when_matched_delete="s.status = 'retire'",
        when_not_matched_insert=True,
    )
    assert snap.operation == "merge"
    assert [s.operation for s in t.snapshots()] == ["create", "append", "merge"]
    rows = {r.k: (r.qty, r.status) for r in t.read(with_row_id=False).collect()}
    # 10 - 2 deleted + 2 inserted
    assert len(rows) == 10
    assert rows[2] == (25, "live") and rows[4] == (47, "live")  # t.qty + s.qty
    assert 6 not in rows and 8 not in rows                      # deleted
    assert rows[100] == (1, "live") and rows[101] == (2, "live")  # inserted
    assert rows[0] == (0, "live") and rows[9] == (90, "live")   # untouched
    # time travel: pre-merge state intact
    assert t.read(version=1).count() == 10
    # sequence rule end to end: re-inserting a deleted key later stays visible
    t.append(spark.createDataFrame([(6, 99, "live")], "k bigint, qty bigint, status string"))
    rows = {r.k: (r.qty, r.status) for r in t.read(with_row_id=False).collect()}
    assert rows[6] == (99, "live")


def test_merge_delete_only_no_insert(spark, tmp_path):
    """MERGE with only WHEN MATCHED DELETE: unmatched source rows are NOT
    inserted, unaffected matched rows keep their target version."""
    t = ParquetSnapshotTable(spark, str(tmp_path / "dmerge")).create(["k", "v"])
    t.append(spark.range(6).select(F.col("id").alias("k"), F.lit("x").alias("v")))
    src = spark.createDataFrame([(1, "kill"), (3, "keep"), (50, "kill")], "k bigint, v string")
    t.merge(
        src,
        keys=["k"],
        when_matched_update=None,
        when_matched_delete="s.v = 'kill'",
        when_not_matched_insert=False,
    )
    rows = {r.k: r.v for r in t.read(with_row_id=False).collect()}
    assert set(rows) == {0, 2, 3, 4, 5}
    assert rows[3] == "x"  # matched but not deleted, not updated


def test_metadata_tables_lineage_after_compact_and_rollback(spark, tmp_path):
    """snapshots/history/files relations must track file-level lineage:
    compact collapses the live set to its rewrite and drops delete files;
    rollback restores the target snapshot's exact entries."""
    t = ParquetSnapshotTable(spark, str(tmp_path / "metat")).create(["k"])
    t.append(spark.range(10).select(F.col("id").alias("k")), num_files=2)   # v1
    t.append(spark.range(10, 20).select(F.col("id").alias("k")), num_files=2)  # v2
    t.delete_where("k % 5 = 0", mode="equality", equality_columns=["k"])    # v3
    t.compact(target_files=1)                                               # v4
    t.rollback_to(3)                                                        # v5
    snaps = {r.snapshot_id: r for r in t.snapshots_table().collect()}
    assert snaps[3].n_data_files == 4 and snaps[3].n_delete_files == 1
    assert snaps[4].n_data_files == 1 and snaps[4].n_delete_files == 0
    # rollback restored v3's file lists verbatim
    assert snaps[5].n_data_files == 4 and snaps[5].n_delete_files == 1
    v3_files = {r.file_path for r in t.files_table(version=3).collect()}
    cur_files = {r.file_path for r in t.files_table().collect()}
    assert cur_files == v3_files
    # compact snapshot's live set is exactly its own rewrite
    v4 = t.files_table(version=4).collect()
    assert len(v4) == 1 and "compact-4-" in v4[0].file_path
    assert v4[0].sequence_number == 4
    # history: linear parent chain, all ancestors of current
    hist = t.history_table().orderBy("snapshot_id").collect()
    assert [r.snapshot_id for r in hist] == [0, 1, 2, 3, 4, 5]
    assert hist[0].parent_id is None
    assert all(r.is_current_ancestor for r in hist)
    assert [r.parent_id for r in hist[1:]] == [0, 1, 2, 3, 4]


def test_update_where_single_snapshot(spark, tmp_path):
    """UPDATE ... SET ... WHERE: positional delete of the old versions +
    appended new versions in ONE atomic snapshot."""
    t = ParquetSnapshotTable(spark, str(tmp_path / "upd")).create(["k", "qty"])
    t.append(spark.range(10).select(F.col("id").alias("k"), (F.col("id") * 10).alias("qty")))
    snap = t.update_where("k >= 7", {"qty": "qty + 1000"})
    assert snap.operation == "update"
    assert len(t.snapshots()) == 3
    rows = {r.k: r.qty for r in t.read(with_row_id=False).collect()}
    assert len(rows) == 10
    assert rows[7] == 1070 and rows[9] == 1090
    assert rows[0] == 0 and rows[6] == 60
    # time travel pre-update
    assert t.read(version=1).filter("qty >= 1000").count() == 0
    # updating an updated row works (fresh positional ids)
    t.update_where("k = 7", {"qty": "qty + 1"})
    assert {r.qty for r in t.read().filter("k = 7").collect()} == {1071}


def test_branches_tags_write_audit_publish(spark, tmp_path):
    """Iceberg refs: a staging branch takes commits invisible to main
    (write), is readable for validation (audit), and fast-forward makes
    it current (publish).  Tags pin immutable versions."""
    t = ParquetSnapshotTable(spark, str(tmp_path / "wap")).create(["k"])
    t.append(spark.range(10).select(F.col("id").alias("k")))
    t.create_tag("v1")
    t.create_branch("audit")
    # write: stage commits on the branch
    t.append(spark.range(10, 30).select(F.col("id").alias("k")), branch="audit")
    t.delete_where("k % 2 = 1", mode="equality", equality_columns=["k"], branch="audit")
    # main unaffected; audit sees staged state
    assert t.read().count() == 10
    assert t.read(ref="audit").count() == 15  # 30 rows - 15 odd
    assert t.read(ref="v1").count() == 10
    # audit passes -> publish
    t.fast_forward("main", "audit")
    assert t.read().count() == 15
    # tag still pins the old version; tags are immutable
    assert t.read(ref="v1").count() == 10
    with pytest.raises(ValueError):
        t.append(spark.range(5).select(F.col("id").alias("k")), branch="v1")
    # expire keeps ref-pinned snapshots alive
    t.expire_snapshots(keep_last=1)
    assert t.read(ref="v1").count() == 10


def test_partitions_table_counts_per_partition(spark, tmp_path):
    """`tbl.partitions` answers from the per-file stats sidecar alone:
    file/record counts per partition after append, unchanged by an MoR
    delete (delete files are not data files), corrected by compact."""
    t = ParquetSnapshotTable(spark, str(tmp_path / "parts")).create(
        ["k", "grp"], partition_by=["grp"]
    )
    rows = spark.range(20).select(
        F.col("id").alias("k"), (F.col("id") % 2).cast("string").alias("grp")
    )
    t.append(rows, num_files=1)
    p = {r["partition_value"]: r for r in t.partitions_table().collect()}
    assert set(p) == {"grp=0", "grp=1"}
    assert p["grp=0"]["record_count"] == 10 and p["grp=1"]["record_count"] == 10
    # MoR delete: data files untouched, partitions metadata unchanged
    t.delete_where("k < 4", mode="equality", equality_columns=["k"])
    p2 = {r["partition_value"]: r["record_count"] for r in t.partitions_table().collect()}
    assert p2 == {"grp=0": 10, "grp=1": 10}
    # compact applies deletes and rewrites stats
    t.compact(target_files=1)
    p3 = {r["partition_value"]: r["record_count"] for r in t.partitions_table().collect()}
    assert p3 == {"grp=0": 8, "grp=1": 8}
    # historical snapshot still reports the pre-compact layout
    pre = {r["partition_value"]: r["record_count"] for r in t.partitions_table(version=1).collect()}
    assert pre == {"grp=0": 10, "grp=1": 10}


def test_refs_table_lists_branches_and_tags(spark, tmp_path):
    t = ParquetSnapshotTable(spark, str(tmp_path / "refs")).create(["k"])
    t.append(spark.range(5).select(F.col("id").alias("k")))
    # implicit main before any ref exists
    assert t.refs_table().collect()[0].asDict() == {
        "name": "main", "type": "branch", "snapshot_id": 1,
    }
    t.create_tag("v1")
    t.create_branch("audit")
    t.append(spark.range(5, 8).select(F.col("id").alias("k")))  # advances main only
    refs = {r["name"]: (r["type"], r["snapshot_id"]) for r in t.refs_table().collect()}
    assert refs == {
        "main": ("branch", 2), "audit": ("branch", 1), "v1": ("tag", 1),
    }


def test_read_where_skips_files_by_footer_bounds(spark, tmp_path):
    """Manifest-style pruning: a selective predicate on a clustered column
    plans a scan over only the files whose [min,max] may match — the
    InclusiveMetricsEvaluator behavior that bounds scan cost at 100 TB."""
    t = ParquetSnapshotTable(spark, str(tmp_path / "skip")).create(["k", "v"])
    for lo in (0, 100, 200):  # three appends -> three files with disjoint k
        t.append(
            spark.range(lo, lo + 100).select(
                F.col("id").alias("k"), (F.col("id") * 2).alias("v")
            ),
            num_files=1,
        )
    assert len(t.read().inputFiles()) == 3
    pruned = t.read(where="k >= 150 AND k < 250")
    assert len(pruned.inputFiles()) == 2
    assert sorted(r["k"] for r in pruned.collect()) == list(range(150, 250))
    # a fully-out-of-range predicate prunes everything, schema intact
    none = t.read(where="k > 9000")
    assert none.count() == 0 and none.schema["k"].dataType.simpleString() == "bigint"
    # OR / non-analyzable shapes disable skipping but stay correct
    odd = t.read(where="k % 2 = 0 OR k = 3")
    assert len(odd.inputFiles()) == 3 and odd.count() == 151
    # pruning composes with MoR deletes (delete rows live in skipped files)
    t.delete_where("k >= 160 AND k < 170", mode="equality", equality_columns=["k"])
    assert t.read(where="k >= 150 AND k < 250").count() == 90
    assert t.read(where="k < 100").count() == 100


def test_read_where_prunes_string_and_partition_bounds(spark, tmp_path):
    t = ParquetSnapshotTable(spark, str(tmp_path / "skipstr")).create(
        ["name", "grp", "n"], partition_by=["grp"]
    )
    a = spark.createDataFrame(
        [("apple", "x", 1), ("banana", "x", 2)], "name string, grp string, n int"
    )
    b = spark.createDataFrame(
        [("walnut", "x", 3), ("zebra", "x", 4)], "name string, grp string, n int"
    )
    t.append(a, num_files=1)
    t.append(b, num_files=1)
    pruned = t.read(where="name <= 'cherry'")
    assert len(pruned.inputFiles()) == 1
    assert sorted(r["name"] for r in pruned.collect()) == ["apple", "banana"]
    # partition-column conjunct: no footer bounds (hive layout drops the
    # column from the file), row results still exact
    assert t.read(where="grp = 'x' AND n >= 3").count() == 2


def test_zorder_rewrite_prunes_on_both_dimensions(spark, tmp_path):
    """After rewrite_zorder(["x","y"]), a box predicate on EITHER (or both)
    dimensions skips files via footer bounds; a linear sort on x can never
    prune on y.  This is the 100 TB layout story: z-order + manifest
    pruning bounds scan cost for every clustered dimension."""
    t = ParquetSnapshotTable(spark, str(tmp_path / "z")).create(["x", "y", "v"])
    grid = spark.range(10000).select(
        (F.col("id") % 100).alias("x"),
        (F.col("id") / 100).cast("long").alias("y"),
        F.col("id").alias("v"),
    )
    t.append(grid, num_files=4)
    t.rewrite_zorder(["x", "y"], target_files=16)
    assert t.snapshots()[-1].operation == "zorder"
    assert len(t.read().inputFiles()) == 16

    box = t.read(where="x >= 40 AND x < 60 AND y >= 40 AND y < 60")
    # ~4 of 16 tiles for a 20x20 box in the ideal layout; the range
    # exchange places tile boundaries by SAMPLING, so session-dependent
    # input splits can straddle the box across a tile or two more (seen
    # once under the full suite: 9).  The property under test is that
    # BOTH dimensions prune — far fewer than all 16 files.
    assert len(box.inputFiles()) <= 10
    assert box.count() == 400
    assert sorted(r["v"] for r in box.collect()) == sorted(
        y * 100 + x for x in range(40, 60) for y in range(40, 60)
    )
    # single-dimension predicates prune too (a y-band touches one z-stripe
    # of tiles, never the whole table)
    yband = t.read(where="y >= 40 AND y < 60")
    assert len(yband.inputFiles()) <= 10 and yband.count() == 2000
    xband = t.read(where="x >= 40 AND x < 60")
    assert len(xband.inputFiles()) <= 12 and xband.count() == 2000

    # contrast: the same data linearly sorted by x cannot prune a y-band
    t2 = ParquetSnapshotTable(spark, str(tmp_path / "lin")).create(["x", "y", "v"])
    t2.append(grid, num_files=1)
    t2.compact(target_files=16)  # compact preserves no clustering on y
    t2_yband = t2.read(where="y >= 40 AND y < 60")
    assert len(t2_yband.inputFiles()) >= len(yband.inputFiles())
    assert t2_yband.count() == 2000


def test_partial_compact_rewrites_only_matching_partition(spark, tmp_path):
    """compact(where=) must rewrite only the selected partition's files,
    keep the other partition's entries untouched, retain delete files for
    them, and leave every read result identical to before."""
    t = ParquetSnapshotTable(spark, str(tmp_path / "pc")).create(
        ["k", "grp"], partition_by=["grp"]
    )
    rows = spark.range(40).select(
        F.col("id").alias("k"), (F.col("id") % 2).cast("string").alias("grp")
    )
    t.append(rows, num_files=2)
    t.append(
        spark.range(40, 80).select(
            F.col("id").alias("k"), (F.col("id") % 2).cast("string").alias("grp")
        ),
        num_files=2,
    )
    t.delete_where("k % 10 = 0", mode="equality", equality_columns=["k"])
    before = sorted(r["k"] for r in t.read().collect())
    pre = t.snapshots()[-1]
    grp1_files = {e[0] for e in pre.data_files if "grp=1" in e[0]}
    assert len(grp1_files) == 4

    t.compact(target_files=1, where="grp = '0'")
    post = t.snapshots()[-1]
    assert post.operation == "compact"
    # grp=1 entries untouched (same paths), grp=0 rewritten to 1 file
    assert {e[0] for e in post.data_files if "grp=1" in e[0]} == grp1_files
    g0 = [e[0] for e in post.data_files if "grp=0" in e[0]]
    assert len(g0) == 1 and "compact-" in g0[0].rsplit("/", 1)[1]
    # delete files retained (grp=1 files still need them)
    assert post.delete_files == pre.delete_files
    # visible rows unchanged; deletes still apply to the untouched side and
    # are materialized (not re-applied) on the rewritten side
    assert sorted(r["k"] for r in t.read().collect()) == before
    # all deleted keys (k%10=0) are even, i.e. in grp=0: 40-8 / 40-0
    assert t.read(where="grp = '0'").count() == 32
    assert t.read(where="grp = '1'").count() == 40


def test_remove_orphan_files(spark, tmp_path):
    t = ParquetSnapshotTable(spark, str(tmp_path / "orph")).create(["k"])
    t.append(spark.range(10).select(F.col("id").alias("k")))
    before = t.read().count()
    # plant debris: a stray parquet in the data tree and a leftover stage dir
    import os

    data_dir = tmp_path / "orph" / "data"
    spark.range(5).select(F.col("id").alias("k")).write.mode("overwrite").parquet(
        str(tmp_path / "stray")
    )
    stray = next(p for p in os.listdir(str(tmp_path / "stray")) if p.endswith(".parquet"))
    os.rename(str(tmp_path / "stray" / stray), str(data_dir / "uncommitted.parquet"))
    os.makedirs(str(tmp_path / "orph" / ".stage-deadbeef"), exist_ok=True)
    removed = t.remove_orphan_files()
    assert len(removed) == 2
    assert t.read().count() == before
    assert not os.path.exists(str(data_dir / "uncommitted.parquet"))
    # second run is a no-op
    assert t.remove_orphan_files() == []


def test_hash_distribution_mode_one_file_per_partition(spark, tmp_path):
    """write.distribution-mode=hash must collapse a many-task append to
    one file per partition value (the small-files guard at high
    parallelism); without it the same append fans out per task."""
    rows = spark.range(200).repartition(8).select(
        F.col("id").alias("k"), (F.col("id") % 4).cast("string").alias("grp")
    )
    t = ParquetSnapshotTable(spark, str(tmp_path / "hashed")).create(
        ["k", "grp"],
        partition_by=["grp"],
        properties={"write.distribution-mode": "hash"},
    )
    t.append(rows)
    assert len(t.snapshots()[-1].data_files) == 4  # one per grp value
    assert t.read().count() == 200
    p = {r["partition_value"]: r["file_count"] for r in t.partitions_table().collect()}
    assert set(p.values()) == {1}

    t2 = ParquetSnapshotTable(spark, str(tmp_path / "plain")).create(
        ["k", "grp"], partition_by=["grp"]
    )
    t2.append(rows)
    assert len(t2.snapshots()[-1].data_files) > 4  # per-task fan-out


def test_zorder_expr_edge_cases(spark):
    """Bucket clamping at the bounds and constant-column degradation —
    the edges where width_bucket's 1-based/overflow semantics could
    mis-rank rows."""
    from iceberg_table_generator_spark.operators.zorder import Z_COL, with_zorder

    df = spark.createDataFrame(
        [(0, 0), (99, 99), (50, 50)], "x int, y int"
    )
    z = {r["x"]: r[Z_COL] for r in with_zorder(df, ["x", "y"], bits=4).collect()}
    # min corner -> rank (0,0) -> z 0; max corner -> rank (15,15) -> all
    # 8 interleaved bits set
    assert z[0] == 0
    assert z[99] == 255
    assert 0 < z[50] < 255
    # constant column contributes rank 0 everywhere: z reduces to the
    # varying column's spread bits, ordering preserved
    dfc = spark.createDataFrame([(1, 7), (2, 7), (3, 7)], "x int, y int")
    zc = [r[Z_COL] for r in with_zorder(dfc, ["x", "y"], bits=4).orderBy("x").collect()]
    assert zc == sorted(zc)


def test_every_snapshot_lookup_resolves_like_read(spark, tmp_path):
    """The metadata tables and `rollback_to` resolve versions and refs the
    way `read` does: an unknown version is a ValueError naming it, and
    `main` exists before any branch or tag does."""
    t = ParquetSnapshotTable(spark, str(tmp_path / "resolve")).create(["k"])
    t.append(spark.range(3).select(F.col("id").alias("k")))
    for lookup in (t.read, t.files_table, t.files_stats_table, t.partitions_table,
                   t.rollback_to):
        with pytest.raises(ValueError, match="no snapshot 99"):
            lookup(version=99)
    assert not (tmp_path / "resolve" / "refs.json").exists()
    assert t.files_stats_table(ref="main").collect() == t.files_stats_table().collect()
    with pytest.raises(ValueError, match="unknown ref"):
        t.files_stats_table(ref="audit")


def _in_job_group(spark, group: str, build):
    """`build()`, with every Spark job it launches in job group `group`."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        return build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_read_builds_without_spark_jobs(spark, tmp_path):
    """Every file group of a read is scanned with the schema its log
    entries record, so building the DataFrame launches no job — across a
    partition-spec change, an int→bigint widening, and positional plus
    equality deletes."""
    import time
    import uuid

    t = ParquetSnapshotTable(spark, str(tmp_path / "nojobs")).create(
        ["k", "grp", "v"], partition_by=["grp"]
    )
    t.append(
        spark.range(6).select(
            F.col("id").cast("int").alias("k"),
            (F.col("id") % 2).cast("string").alias("grp"),
            F.lit("a").alias("v"),
        ),
        num_files=1,
    )
    t.set_partition_fields(["v"])
    t.append(
        spark.range(6, 10).select(
            F.col("id").alias("k"), F.lit("1").alias("grp"), F.lit("b").alias("v")
        ),
        num_files=1,
    )
    t.delete_where("k = 1", mode="positional")
    t.delete_where("k = 8", mode="equality", equality_columns=["k"])
    tag = uuid.uuid4().hex[:8]
    df = _in_job_group(spark, f"read-{tag}", t.read)
    # control: inferring the same files' schema is a job the tracker sees;
    # listener events arrive in order, so once it shows, so would the read's
    files = [e[0] for e in t.snapshots()[-1].data_files]
    _in_job_group(spark, f"infer-{tag}", lambda: spark.read.parquet(*files).schema)
    tracker = spark.sparkContext.statusTracker()
    for _ in range(50):
        if tracker.getJobIdsForGroup(f"infer-{tag}"):
            break
        time.sleep(0.1)
    assert tracker.getJobIdsForGroup(f"infer-{tag}")
    assert list(tracker.getJobIdsForGroup(f"read-{tag}")) == []
    assert dict(df.dtypes)["k"] == "bigint" and dict(df.dtypes)["grp"] == "string"
    assert sorted(r.k for r in df.collect()) == [0, 2, 3, 4, 5, 6, 7, 9]


def test_digit_string_partition_column_stays_string(spark, tmp_path):
    """A string partition column holding digits ("0"/"1") reads back as a
    string, not as the int that directory-name inference would guess,
    before and after compaction; a predicate on it prunes to its files."""
    t = ParquetSnapshotTable(spark, str(tmp_path / "digits")).create(
        ["k", "grp"], partition_by=["grp"]
    )
    t.append(
        spark.range(10).select(
            F.col("id").alias("k"), (F.col("id") % 2).cast("string").alias("grp")
        )
    )

    def check(step: str) -> None:
        assert dict(t.read().dtypes)["grp"] == "string", step
        pruned = t.read(with_row_id=False, where="grp = '0'")
        assert pruned.inputFiles(), step
        assert all("/grp=0/" in f for f in pruned.inputFiles()), step
        assert sorted(r.k for r in pruned.collect()) == [0, 2, 4, 6, 8], step

    check("appended")
    t.compact(target_files=1)
    check("compacted")
