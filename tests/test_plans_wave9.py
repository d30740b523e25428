"""Plan-quality assertions for the round-9 operator wave (the
correctness twin lives in the oracle gate; these pin the SCALE
properties the docstrings claim)."""

from __future__ import annotations

from iceberg_table_generator_spark.operators import similarity, text, wave9
from iceberg_table_generator_spark.plans import explain


def test_span_dedup_never_joins_on_the_span(spark, sf_small):
    """The Lee-et-al span pass must be join-free: one span-keyed groupBy
    (map-side combinable) and a global top-k — no posting-list join, no
    shingle-keyed skew join anywhere in the plan."""
    df = wave9.dedup_span_exact(spark, sf_small)
    kinds = explain.join_kinds(df)
    assert sum(kinds.values()) == 0, kinds
    assert explain.has_operator(df, "TakeOrderedAndProject")
    assert explain.global_window_subtrees(df) == []


def test_span_stats_is_join_free_rollup(spark, sf_small):
    df = wave9.dedup_span_stats(spark, sf_small)
    kinds = explain.join_kinds(df)
    assert sum(kinds.values()) == 0, kinds


def _only_pid_offset_windows(df):
    """Every unpartitioned window must be the two-phase order's internal
    offset prefix over per-bucket totals (orders on _bkt, <= config
    size rows) — the same `partition_offsets` bounded category the
    repo-wide window-invariant suite applies."""
    return [
        (line, sub)
        for line, sub in explain.global_window_subtrees(df)
        if "windowspecdefinition(_bkt#" not in line
    ]


def test_lorenz_runs_on_range_shuffle_not_global_window(spark, sf_small):
    """The fact-table Lorenz curve must be the two-phase order: a
    deterministic-bucket exchange (hashpartitioning on _bkt — r10
    replaced the range sampler with literal boundaries), NO
    single-partition window over the fact relation, the offset/total
    relations broadcast, and the scan pruned to exactly the four
    columns used."""
    df = wave9.lineitem_lorenz_deciles(spark, sf_small)
    assert _only_pid_offset_windows(df) == []
    assert "hashpartitioning(_bkt" in explain.plan_text(df, mode="simple")
    kinds = explain.join_kinds(df)
    # One BNLJ is the broadcast crossJoin against the single-row
    # (n_total, t_rev) scalar aggregate — the repo's scalar-broadcast
    # pattern; anything beyond that (or any sort-merge) is a regression.
    assert kinds["BroadcastNestedLoopJoin"] <= 1, kinds
    assert kinds["SortMergeJoin"] == 0, kinds
    for cols in explain.read_schemas(df):
        assert set(cols) <= {
            "l_orderkey",
            "l_linenumber",
            "l_extendedprice",
            "l_discount",
        }, cols


def test_gini_positions_avoid_global_window(spark, sf_small):
    df = wave9.customer_gini_spend(spark, sf_small)
    assert _only_pid_offset_windows(df) == []
    assert "hashpartitioning(_bkt" in explain.plan_text(df, mode="simple")


def test_token_savings_is_join_free(spark, sf_small):
    """Keep-one savings needs no representative-selection join: identical
    texts share token counts, so the kept tokens are the cluster min."""
    df = wave9.pipeline_dedup_token_savings(spark, sf_small)
    kinds = explain.join_kinds(df)
    assert sum(kinds.values()) == 0, kinds


def test_cluster_purity_assignment_is_joinless(spark, sf_small):
    """Label purity assigns clusters via the in-row argmin over broadcast
    centroid literals (the silhouette plan) — the corpus is never joined
    against the centroid relation."""
    df = similarity.similarity_cluster_purity(spark, sf_small)
    kinds = explain.join_kinds(df)
    assert sum(kinds.values()) == 0, kinds


def test_unigram_tv_never_sort_merges(spark, sf_small):
    """The TV matrix meets the pair grid through broadcast/nested-loop
    forms over the bounded source domain — a SortMergeJoin would mean a
    corpus-sized relation reached a join it shouldn't."""
    df = text.text_source_unigram_tv(spark, sf_small)
    kinds = explain.join_kinds(df)
    assert kinds["SortMergeJoin"] == 0, kinds


def test_span_stats_counts_known_duplicate(spark):
    """Property: planting one 8-token span twice in otherwise-unique
    documents is detected as exactly one cross-doc duplicated span
    group by the span aggregation (the thing doc-level dedup misses)."""
    import pyspark.sql.functions as F
    from iceberg_table_generator_spark.operators.wave9 import (
        SPAN_K,
        _span_groups,
    )

    span = " ".join(f"w{i}" for i in range(SPAN_K))
    docs = spark.createDataFrame(
        [
            (0, f"alpha beta {span} gamma"),
            (1, f"delta {span} epsilon zeta"),
            (2, "eta theta iota kappa"),
        ],
        "doc_id long, text string",
    )
    import tempfile, os

    with tempfile.TemporaryDirectory() as td:
        docs.write.parquet(os.path.join(td, "documents.parquet"))
        grp = _span_groups(spark, td)
        dups = grp.filter(F.col("n_occurrences") >= 2).collect()
    # Exactly the planted span group: the two embeddings start at
    # different offsets, so no OTHER window repeats across the docs.
    assert len(dups) == 1, dups
    assert dups[0].n_occurrences == 2 and dups[0].n_docs == 2
