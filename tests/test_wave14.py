"""Wave-14 property tests: Gopher rules, UniMax allocation, BQ /
Matryoshka recall, MATTR, and the MinHash band sweep."""

from __future__ import annotations

import pyspark.sql.functions as F

from iceberg_table_generator_spark.functions.cache import release_tracked
from iceberg_table_generator_spark.operators import similarity, text, wave14
from iceberg_table_generator_spark.sources.tables import load_table


def test_gopher_rule_matrix_consistency(spark, sf_small):
    rows = wave14.pipeline_gopher_quality_rules(spark, sf_small).collect()
    total = sum(r.n_docs for r in rows)
    assert total == load_table(spark, sf_small, "documents").count()
    for r in rows:
        for c in (
            "n_wordcount_ok",
            "n_meanwordlen_ok",
            "n_stopword_ok",
            "n_repetition_ok",
        ):
            assert 0 <= getattr(r, c) <= r.n_docs
        # all-pass is an intersection: bounded by the weakest rule
        assert r.n_all_pass <= min(
            r.n_wordcount_ok,
            r.n_meanwordlen_ok,
            r.n_stopword_ok,
            r.n_repetition_ok,
        )
        assert r.all_pass_ppm == (r.n_all_pass * 1_000_000) // r.n_docs
    # the fixture must exercise failures somewhere (rules are not vacuous)
    assert any(r.n_all_pass < r.n_docs for r in rows)
    release_tracked()


def test_unimax_allocation_invariants(spark, sf_small):
    rows = wave14.pipeline_unimax_mixing(spark, sf_small).collect()
    total = sum(r.lang_tokens for r in rows)
    budget = (total * wave14.UNIMAX_BUDGET_NUM) // wave14.UNIMAX_BUDGET_DEN
    alloc = sum(r.alloc_tokens for r in rows)
    # never exceeds the budget; leftover only if everything capped
    assert alloc <= budget
    for r in rows:
        cap = wave14.UNIMAX_EPOCH_CAP * r.lang_tokens
        assert 0 <= r.alloc_tokens <= cap
        assert r.capped == (1 if r.alloc_tokens == cap else 0)
        assert r.epochs_micro == (r.alloc_tokens * 1_000_000) // r.lang_tokens
    # the fixture exercises BOTH branches (cap binds for the smallest
    # languages, water-filling covers the rest)
    assert any(r.capped for r in rows) and any(not r.capped for r in rows)
    # UniMax fairness: uncapped languages all receive ≥ any capped
    # language's allocation (water level is above every binding cap)
    if any(r.capped for r in rows):
        min_uncapped = min(r.alloc_tokens for r in rows if not r.capped)
        max_capped = max(r.alloc_tokens for r in rows if r.capped)
        assert min_uncapped >= max_capped - 1  # integer-division slack
    release_tracked()


def test_bq_recall_bounds_and_signal(spark, sf_small):
    rows = similarity.similarity_bq_recall(spark, sf_small).collect()
    from iceberg_table_generator_spark.operators.similarity import (
        N_QUERIES,
        TOP_K,
    )

    assert len(rows) == N_QUERIES
    for r in rows:
        assert 0 <= r.n_hits <= TOP_K
        assert r.recall_ppm == (r.n_hits * 1_000_000) // TOP_K
    # 1-bit quantization must beat chance: mean recall over queries well
    # above k/N (random top-k overlap ≈ 5/500 = 1%)
    mean_recall = sum(r.n_hits for r in rows) / (len(rows) * TOP_K)
    assert mean_recall > 0.10, mean_recall
    release_tracked()


def test_matryoshka_recall_monotone_in_dim(spark, sf_small):
    rows = similarity.similarity_matryoshka_recall(spark, sf_small).collect()
    from iceberg_table_generator_spark.operators.similarity import (
        N_QUERIES,
        TOP_K,
    )

    by_dim: dict[int, int] = {}
    for r in rows:
        assert 0 <= r.n_hits <= TOP_K
        by_dim[r.dim] = by_dim.get(r.dim, 0) + r.n_hits
    assert set(by_dim) == set(similarity.MRL_DIMS)
    assert all(
        sum(1 for r in rows if r.dim == d) == N_QUERIES for d in by_dim
    )
    # aggregate recall should not collapse when dims double: d'=32 must
    # match-or-beat d'=8 (per-query noise allows local inversions; the
    # totals ordering is the MRL property under test)
    assert by_dim[32] >= by_dim[8]
    release_tracked()


def test_mattr_bounds_and_window_exactness(spark, sf_small):
    """Cross-check the closed form against a brute-force per-window count
    on a handful of documents."""
    rows = text.text_mattr_diversity(spark, sf_small).collect()
    for r in rows:
        assert 0 < r.min_mattr_micro <= r.avg_mattr_micro <= r.max_mattr_micro
        assert r.max_mattr_micro <= 1_000_000
    d = (
        load_table(spark, sf_small, "documents")
        .select("doc_id", "source", F.split(F.lower("text"), " ").alias("ws"))
        .limit(40)
        .collect()
    )
    W = text.MATTR_W
    checked = 0
    for row in d:
        ws = row.ws
        L = len(ws)
        if L < W:
            continue
        # brute force: distinct count of every complete window
        total = sum(len(set(ws[s : s + W])) for s in range(L - W + 1))
        # the query's closed form: per-occurrence window-first counts
        prev: dict[str, int] = {}
        acc = 0
        for pos, w in enumerate(ws):
            gap = pos - prev[w] if w in prev else pos + 1
            prev[w] = pos
            acc += max(
                0, min(pos, L - W) - max(pos - W + 1, pos - gap + 1, 0) + 1
            )
        assert acc == total, (row.doc_id, acc, total)
        checked += 1
        if checked >= 10:
            break
    assert checked, "fixture has no documents reaching the MATTR window"
    release_tracked()


def test_band_sweep_tradeoff_monotone(spark, sf_small):
    rows = {
        (r.n_bands, r.rows_per_band): r
        for r in wave14.dedup_minhash_band_sweep(spark, sf_small).collect()
    }
    assert set(rows) == set(wave14.BAND_SWEEP)
    # more bands (lower threshold) ⟹ candidate volume grows monotonically
    cands = [rows[cfg].n_candidates for cfg in ((8, 8), (16, 4), (32, 2))]
    assert cands[0] <= cands[1] <= cands[2], cands
    # ...and every true pair a tighter plan finds, a looser plan keeps
    finds = [rows[cfg].n_true_found for cfg in ((8, 8), (16, 4), (32, 2))]
    for r in rows.values():
        assert r.n_true_found <= r.n_candidates
        assert r.n_true_found <= r.n_truth
        assert 0 <= r.precision_ppm <= 1_000_000
        assert 0 <= r.recall_ppm <= 1_000_000
    # analytic S-curve midpoints order opposite to candidate volume
    th = [rows[cfg].thresh_micro for cfg in ((8, 8), (16, 4), (32, 2))]
    assert th[0] > th[1] > th[2]
    assert finds == sorted(finds)
    release_tracked()
