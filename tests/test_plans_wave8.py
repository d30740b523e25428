"""Plan-quality assertions for the round-8 operator wave: the plan we
designed is the plan Catalyst produced (the correctness twin lives in the
oracle gate; these pin the SCALE properties)."""

from __future__ import annotations

from iceberg_table_generator_spark.operators import similarity, wave8
from iceberg_table_generator_spark.plans import explain


def test_lateral_topn_decorrelates_to_partitioned_window(spark, sf_small):
    """The LIMIT-ed correlated LATERAL must rewrite to a partitioned
    row_number window + ONE equi hash join — never a nested-loop join,
    never an unpartitioned window."""
    df = wave8.join_lateral_topn(spark, sf_small)
    kinds = explain.join_kinds(df)
    assert kinds["BroadcastNestedLoopJoin"] == 0, kinds
    assert (
        kinds["BroadcastHashJoin"]
        + kinds["SortMergeJoin"]
        + kinds["ShuffledHashJoin"]
        == 1
    ), kinds
    assert explain.plan_nodes(df).count("Window") == 1
    assert explain.global_window_subtrees(df) == []


def test_skyline_is_one_shuffle_two_windows_no_join(spark, sf_small):
    """The 2D skyline must stay the two-window form: a single brand/price
    range shuffle feeding both window frames — the quadratic dominance
    self-join exists only in the DuckDB oracle."""
    df = wave8.part_skyline_pareto(spark, sf_small)
    nodes = explain.plan_nodes(df)
    assert nodes.count("Window") == 2, nodes
    assert nodes.count("Exchange") == 1, nodes
    kinds = explain.join_kinds(df)
    assert sum(kinds.values()) == 0, kinds


def test_silhouette_assignment_is_joinless(spark, sf_small):
    """Nearest/second-nearest centroid comes from an in-row fold over
    broadcast centroid literals — the corpus is never joined or
    crossJoined against the centroid relation."""
    df = similarity.similarity_silhouette_audit(spark, sf_small)
    kinds = explain.join_kinds(df)
    assert sum(kinds.values()) == 0, kinds


def test_ols_scan_prunes_to_three_columns(spark, sf_small):
    """The regression reads exactly the three columns it uses."""
    df = wave8.orders_ols_trend(spark, sf_small)
    [cols] = explain.read_schemas(df)
    assert sorted(cols) == [
        "o_orderdate",
        "o_orderpriority",
        "o_totalprice",
    ], cols


def test_holt_runs_as_recursive_union_loop(spark, sf_small):
    """The forecast executes Spark 4's recursive-CTE UnionLoop — not a
    driver-side collect loop."""
    df = wave8.orders_holt_forecast(spark, sf_small)
    assert explain.has_operator(df, "UnionLoop")


def test_link_prediction_pairs_are_vertex_bounded(spark, sf_small):
    """r14: the wedge count folds driver-side over the collected
    |V|²-bounded edge relation (the katz policy), so the returned frame
    is a local relation — the bound to assert is the top-k cap itself
    (the r13 plan assertion was TakeOrderedAndProject on the in-plan
    ranking, which the fold replaced)."""
    df = wave8.events_link_prediction(spark, sf_small)
    assert df.count() <= wave8.LINK_TOP_K
