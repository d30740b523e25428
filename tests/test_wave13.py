"""Wave-13 property tests: per-language SemDeDup attribution and the
nDCG/MRR ranking-quality evals (r11 verdict #4/#5)."""

from __future__ import annotations

import math

import pyspark.sql.functions as F

from iceberg_table_generator_spark.functions.cache import release_tracked
from iceberg_table_generator_spark.operators import similarity, text, wave13
from iceberg_table_generator_spark.operators.wave11 import (
    _semdedup_dropped,
    dedup_semdedup_shadow_map,
    semdedup_relation,
)


# --------------------------------------------------------------------------
# The rounding-margin guard the module docstring promises
# --------------------------------------------------------------------------
def test_dcg_term_rounding_margin():
    """Every possible DCG term value (gain ≤ 10, rank ≤ 10 — the BM25_TOP_K
    ceiling) sits far from a rounding boundary, so the engines' ln()
    last-ulp disagreement can never flip a micro-rounded term."""
    worst = 1.0
    for gain in range(1, 11):
        for rank in range(1, 11):
            x = gain * 1_000_000.0 / (math.log(rank + 1.0) / math.log(2.0))
            frac = x - math.floor(x)
            worst = min(worst, abs(frac - 0.5))
    # ulp shift at 1e6 scale ≈ 1e-10; demand 7 orders of headroom
    assert worst > 1e-3, worst


# --------------------------------------------------------------------------
# Ranking-quality evaluator semantics
# --------------------------------------------------------------------------
def test_ranking_quality_of_exact_vs_itself_is_perfect(spark, sf_small):
    """nDCG and MRR of the gold ranking against itself must be exactly
    1.0 (micro = 1e6) for every query — the evaluator's fixed point."""
    from iceberg_table_generator_spark.operators.similarity import (
        TOP_K,
        similarity_cosine_topk,
    )

    exact = similarity_cosine_topk(spark, sf_small).select(
        "query_id",
        F.col("neighbor_id").alias("item"),
        F.col("rank").alias("r"),
    )
    self_ann = exact.select(
        F.lit("self").alias("method"),
        "query_id",
        "item",
        F.col("r").alias("s"),
    )
    rows = similarity.ranking_quality(
        self_ann, exact, TOP_K, keys=["method"]
    ).collect()
    assert rows
    for row in rows:
        assert row.ndcg_micro == 1_000_000, row
        assert row.first_hit_rank == 1
        assert row.rr_micro == 1_000_000
    release_tracked()


def test_ann_ndcg_eval_bounds_and_methods(spark, sf_small):
    rows = similarity.similarity_ann_ndcg_eval(spark, sf_small).collect()
    methods = {r.method for r in rows}
    assert methods <= {"lsh", "ivf"} and "ivf" in methods
    for r in rows:
        assert 0 <= r.ndcg_micro <= 1_000_000, r
        assert 0 <= r.rr_micro <= 1_000_000
        assert (r.first_hit_rank == 0) == (r.rr_micro == 0)
        if r.first_hit_rank:
            assert r.rr_micro == 1_000_000 // r.first_hit_rank
    release_tracked()


def test_bm25_ndcg_eval_bounds(spark, sf_small):
    rows = text.text_bm25_ndcg_eval(spark, sf_small).collect()
    assert rows
    for r in rows:
        assert r.method == "tf"
        assert 0 <= r.ndcg_micro <= 1_000_000
        # a tf prefilter over the same OR-term match set always retrieves
        # SOME gold doc in its top-k on this fixture
        assert r.first_hit_rank >= 1
    release_tracked()


# --------------------------------------------------------------------------
# Per-language SemDeDup attribution: marginal consistency
# --------------------------------------------------------------------------
def test_semdedup_lang_marginals(spark, sf_small):
    m = semdedup_relation(spark, sf_small)
    total_members = m.count()
    total_dropped = _semdedup_dropped(m).count()

    by_lang = wave13.dedup_semdedup_by_lang(spark, sf_small).collect()
    assert sum(r.n_members for r in by_lang) == total_members
    assert sum(r.n_dropped for r in by_lang) == total_dropped
    for r in by_lang:
        assert r.n_kept == r.n_members - r.n_dropped
        assert r.drop_micro == (r.n_dropped * 1_000_000) // r.n_members

    matrix = wave13.dedup_semdedup_lang_cluster_matrix(
        spark, sf_small
    ).collect()
    # matrix marginals over cid reproduce the per-language totals
    per_lang = {}
    for r in matrix:
        a = per_lang.setdefault(r.lang, [0, 0])
        a[0] += r.n_members
        a[1] += r.n_dropped
    assert per_lang == {
        r.lang: [r.n_members, r.n_dropped] for r in by_lang
    }
    # cluster shares within each cid sum to ~1e6 (integer-floor slack)
    by_cid = {}
    for r in matrix:
        by_cid.setdefault(r.cid, []).append(r.cluster_share_micro)
    for cid, shares in by_cid.items():
        assert 1_000_000 - len(shares) < sum(shares) <= 1_000_000, cid
    release_tracked()


def test_semdedup_cross_lang_shadow_totals(spark, sf_small):
    sm_total = dedup_semdedup_shadow_map(spark, sf_small).count()
    rows = wave13.dedup_semdedup_cross_lang_shadow(spark, sf_small).collect()
    # one shadow row per dropped vector, every one attributed to a lang pair
    assert sum(r.n_pairs for r in rows) == sm_total
    for r in rows:
        # every attributed pair cleared τ, so the micro sum is bounded by
        # [τ·1e6·n, 1e6·n]
        assert r.n_pairs * 350_000 <= r.sim_micro_sum <= r.n_pairs * 1_000_000
    release_tracked()
