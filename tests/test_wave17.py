"""Wave-17 property tests: compression frontier and source ablation."""

from __future__ import annotations

from iceberg_table_generator_spark.functions.cache import release_tracked
from iceberg_table_generator_spark.operators import similarity, wave17
from iceberg_table_generator_spark.sources.tables import load_table


def test_frontier_covers_ladder_and_is_consistent(spark, sf_small):
    from iceberg_table_generator_spark.operators.similarity import (
        N_QUERIES,
        TOP_K,
    )

    rows = {
        r.method: r
        for r in similarity.similarity_compression_frontier(
            spark, sf_small
        ).collect()
    }
    assert set(rows) == set(similarity._METHOD_BYTES)
    denom = N_QUERIES * TOP_K
    for m, r in rows.items():
        assert r.bytes_per_vec == similarity._METHOD_BYTES[m]
        assert r.compression_micro == (512 * 1_000_000) // r.bytes_per_vec
        assert 0 <= r.total_hits <= denom
        assert r.mean_recall_ppm == (r.total_hits * 1_000_000) // denom
    # structural orderings of the ladder itself:
    # more Matryoshka dims never hurt aggregate recall
    assert rows["mrl32"].total_hits >= rows["mrl8"].total_hits
    # SQ8 (8 bits/dim) dominates BQ (1 bit/dim) on the same corpus
    assert rows["sq8"].total_hits >= rows["bq"].total_hits
    # IVF+PQ cannot beat IVF alone (compounding bound, test_wave16)
    assert rows["ivfpq"].total_hits <= rows["ivf"].total_hits
    release_tracked()


def test_source_ablation_accounting(spark, sf_small):
    rows = wave17.pipeline_source_ablation_matrix(spark, sf_small).collect()
    n_docs_total = sum(r.n_docs for r in rows)
    assert n_docs_total == load_table(spark, sf_small, "documents").count()
    for r in rows:
        assert r.n_tokens >= r.n_docs  # every doc has ≥ 1 token
        assert 0 <= r.shingle_loss_ppm <= 1_000_000
        assert r.shingles_unique >= 0
    # unique shingles must exist somewhere (the phrasing-diversity signal)
    assert any(r.shingles_unique > 0 for r in rows)
    # loss ppm sums to ≤ 1e6 (unique sets are disjoint across sources)
    assert sum(r.shingle_loss_ppm for r in rows) <= 1_000_000
    release_tracked()
