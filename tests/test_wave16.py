"""Wave-16 property tests: IVF+PQ composed recall, dedup tier overlap,
text↔embedding alignment."""

from __future__ import annotations

from iceberg_table_generator_spark.functions.cache import release_tracked
from iceberg_table_generator_spark.operators import similarity, wave16


def test_ivfpq_recall_bounds_and_compounding(spark, sf_small):
    """Composed recall is valid and bounded ABOVE by IVF-only recall:
    both pipelines rank subsets of the same probed candidates, IVF-only
    scores them exactly (the best achievable from that subset), and PQ
    ADC can only EVICT a true neighbor from the shortlist before the
    exact rerank — never recover one the pruning lost.  So aggregate
    hits(IVF+PQ) ≤ hits(IVF) is an invariant of the composition, the
    compounding-error fact the query exists to measure."""
    from iceberg_table_generator_spark.operators.similarity import (
        N_QUERIES,
        TOP_K,
        similarity_ivf_topk,
        similarity_cosine_topk,
    )

    rows = similarity.similarity_ivfpq_recall(spark, sf_small).collect()
    assert len(rows) == N_QUERIES
    total = 0
    for r in rows:
        assert 0 <= r.n_hits <= TOP_K
        assert r.recall_ppm == (r.n_hits * 1_000_000) // TOP_K
        total += r.n_hits
    # must beat chance decisively (random overlap ≈ k/N = 1%)
    assert total / (N_QUERIES * TOP_K) > 0.2
    # compounding bound: composed hits cannot exceed the IVF-only hits
    # (same pruning, and the exact rerank can't beat exact scoring)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity_cosine_topk(spark, sf_small).collect()
    }
    ivf_hits = sum(
        1
        for r in similarity_ivf_topk(spark, sf_small).collect()
        if (r.query_id, r.neighbor_id) in exact
    )
    assert total <= ivf_hits, (total, ivf_hits)
    release_tracked()


def test_tier_overlap_accounting(spark, sf_small):
    from iceberg_table_generator_spark.operators.dedup import (
        dedup_minhash_lsh,
    )

    rows = wave16.dedup_tier_overlap_matrix(spark, sf_small).collect()
    assert rows
    for r in rows:
        # every unioned pair is in at least one tier
        assert r.in_exact + r.in_lexical + r.in_semantic >= 1
        assert r.n_pairs >= 1
    # lexical marginal reproduces the registered query's pair count
    lex_total = sum(
        r.n_pairs for r in rows if r.in_lexical
    )
    assert lex_total == dedup_minhash_lsh(spark, sf_small).count()
    # the embedding tier must contribute pairs no other tier sees
    # (the fixture plants semantic near-dups)
    assert any(
        r.in_semantic and not r.in_exact and not r.in_lexical for r in rows
    )
    release_tracked()


def test_alignment_report_consistency(spark, sf_small):
    rows = wave16.multimodal_text_embedding_alignment(
        spark, sf_small
    ).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_kept <= r.n_docs
        assert r.keep_ppm == (r.n_kept * 1_000_000) // r.n_docs
        # per-doc alignment is a cosine: |sum| bounded by n_docs × 1e6
        assert abs(r.align_micro_sum) <= r.n_docs * 1_000_000
    # both verdicts occur somewhere (the hash projection is uncorrelated
    # with the synthetic embeddings, so alignment straddles the cut)
    assert any(r.n_kept > 0 for r in rows)
    assert any(r.n_kept < r.n_docs for r in rows)
    release_tracked()
