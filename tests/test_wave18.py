"""Wave-18 property tests: quality ablation curve, per-language τ sweep,
BQ+rerank recall."""

from __future__ import annotations

from iceberg_table_generator_spark.functions.cache import release_tracked
from iceberg_table_generator_spark.operators import similarity, wave18


def test_quality_curve_monotone_and_anchored(spark, sf_small):
    rows = {
        r.min_rules: r
        for r in wave18.pipeline_quality_ablation_curve(
            spark, sf_small
        ).collect()
    }
    assert set(rows) == {0, 1, 2, 3, 4}
    # r = 0 keeps everything
    assert rows[0].doc_keep_ppm == 1_000_000
    assert rows[0].token_keep_ppm == 1_000_000
    # retention is non-increasing in strictness, both axes
    for r in range(1, 5):
        assert rows[r].docs_kept <= rows[r - 1].docs_kept
        assert rows[r].tokens_kept <= rows[r - 1].tokens_kept
    # r = 4 equals the per-source matrix's all-pass total (shared rules)
    from iceberg_table_generator_spark.operators.wave14 import (
        pipeline_gopher_quality_rules,
    )

    all_pass = sum(
        r.n_all_pass
        for r in pipeline_gopher_quality_rules(spark, sf_small).collect()
    )
    assert rows[4].docs_kept == all_pass
    release_tracked()


def test_lang_tau_sweep_marginals(spark, sf_small):
    from iceberg_table_generator_spark.operators.wave11 import (
        dedup_semdedup_tau_sweep,
        SEMDEDUP_TAU_GRID,
    )

    rows = wave18.dedup_semdedup_lang_tau_sweep(spark, sf_small).collect()
    corpus = {
        r.tau_micro: r.n_dropped
        for r in dedup_semdedup_tau_sweep(spark, sf_small).collect()
    }
    by_tau: dict[int, int] = {}
    per_lang: dict[str, list] = {}
    for r in rows:
        assert r.drop_ppm == (r.n_dropped * 1_000_000) // r.n_members
        by_tau[r.tau_micro] = by_tau.get(r.tau_micro, 0) + r.n_dropped
        per_lang.setdefault(r.lang, []).append((r.tau_micro, r.n_dropped))
    # per-language drops sum to the registered corpus sweep per τ
    assert by_tau == corpus
    # drops are non-increasing in τ within every language
    for lang, pts in per_lang.items():
        pts.sort()
        drops = [d for _, d in pts]
        assert drops == sorted(drops, reverse=True), (lang, drops)
    assert len(rows) == len(per_lang) * len(SEMDEDUP_TAU_GRID)
    release_tracked()


def test_bq_rerank_dominates_raw_bq(spark, sf_small):
    """The exact rerank can only help: at matched shortlist semantics,
    two-stage recall ≥ raw sign-ADC recall per the aggregate (the delta
    IS the rerank's value)."""
    from iceberg_table_generator_spark.operators.similarity import (
        similarity_bq_recall,
    )

    raw = sum(
        r.n_hits for r in similarity_bq_recall(spark, sf_small).collect()
    )
    rr = similarity.similarity_bq_rerank_recall(spark, sf_small).collect()
    rer = sum(r.n_hits for r in rr)
    assert rer >= raw, (rer, raw)
    for r in rr:
        assert 0 <= r.n_hits <= r.k
        assert r.recall_ppm == (r.n_hits * 1_000_000) // r.k
    release_tracked()
