"""Wave-15 property tests: RRF fusion eval and the ExpireSnapshots plan."""

from __future__ import annotations

from iceberg_table_generator_spark.functions.cache import release_tracked
from iceberg_table_generator_spark.operators import metadata_tables, similarity


def test_rrf_fusion_eval_bounds(spark, sf_small):
    from iceberg_table_generator_spark.operators.similarity import N_QUERIES

    rows = similarity.similarity_rrf_fusion_eval(spark, sf_small).collect()
    assert 0 < len(rows) <= N_QUERIES
    for r in rows:
        assert r.method == "rrf"
        assert 0 <= r.ndcg_micro <= 1_000_000
        assert (r.first_hit_rank == 0) == (r.rr_micro == 0)
    release_tracked()


def test_rrf_fusion_never_worse_than_worst_family(spark, sf_small):
    """Fusion's aggregate nDCG must at least match the WEAKER of the two
    fused families (RRF can trail the better one, but a fusion below both
    inputs would mean the combiner itself is broken)."""
    from iceberg_table_generator_spark.operators.similarity import (
        similarity_ann_ndcg_eval,
    )

    fam = similarity_ann_ndcg_eval(spark, sf_small).collect()
    totals: dict[str, int] = {}
    for r in fam:
        totals[r.method] = totals.get(r.method, 0) + r.ndcg_micro
    fused = sum(
        r.ndcg_micro
        for r in similarity.similarity_rrf_fusion_eval(spark, sf_small).collect()
    )
    assert fused >= min(totals.values()), (fused, totals)
    release_tracked()


def test_expire_plan_safety_invariants(spark, sf_small):
    from iceberg_table_generator_spark.operators.metadata_tables import (
        _fixture_table,
    )

    rows = metadata_tables.meta_expire_snapshots_plan(spark, sf_small).collect()
    assert rows
    for r in rows:
        assert r.n_expired_refs + r.n_retained_refs >= 1
        assert r.removable == (1 if r.n_retained_refs == 0 else 0)

    t = _fixture_table(spark, sf_small)
    files = t.all_files_table()
    snaps = sorted(
        r.snapshot_id for r in files.select("snapshot_id").distinct().collect()
    )
    retained = set(snaps[-metadata_tables.EXPIRE_RETAIN_LAST :])
    live_retained = {
        (r.file_path, r.content)
        for r in files.collect()
        if r.snapshot_id in retained
    }
    # SAFETY: nothing referenced by a retained snapshot is marked removable
    for r in rows:
        if (r.file_path, r.content) in live_retained:
            assert r.removable == 0, r
    # the fixture's history (rollback discards a compaction) must actually
    # produce something reclaimable
    assert any(r.removable for r in rows)
    # plan covers every file entry exactly once
    assert len({(r.file_path, r.content) for r in rows}) == len(rows)
    all_entries = {(r.file_path, r.content) for r in files.collect()}
    assert {(r.file_path, r.content) for r in rows} == all_entries
    release_tracked()


def test_expire_retention_sweep_monotone(spark, sf_small):
    """Retaining MORE snapshots can only protect more files: n_removable
    is non-increasing in retain_last, every count is consistent
    (removable = data + deletes ≤ files), and the retain_last =
    EXPIRE_RETAIN_LAST row agrees with the single-policy plan's
    removable count."""
    rows = {
        r.retain_last: r
        for r in metadata_tables.meta_expire_retention_sweep(spark, sf_small).collect()
    }
    assert set(rows) == set(metadata_tables.EXPIRE_SWEEP)
    n_files = {r.n_files for r in rows.values()}
    assert len(n_files) == 1  # the file universe is policy-independent
    for r in rows.values():
        assert r.n_removable == r.n_removable_data + r.n_removable_deletes
        assert 0 <= r.n_removable <= r.n_files
    swept = sorted(rows)
    for a, b in zip(swept, swept[1:]):
        assert rows[b].n_removable <= rows[a].n_removable, (a, b, rows)
    if metadata_tables.EXPIRE_RETAIN_LAST in rows:
        plan_removable = sum(
            r.removable
            for r in metadata_tables.meta_expire_snapshots_plan(spark, sf_small).collect()
        )
        assert rows[metadata_tables.EXPIRE_RETAIN_LAST].n_removable == plan_removable
