"""Structural invariants of the PageRank operator (beyond the oracle).

The oracle pins bit-exactness against DuckDB; these pin the *algebraic*
properties that must survive any refactor of the integer scheme.
"""

from __future__ import annotations

import pytest

import pyspark.sql.functions as F

from iceberg_table_generator_spark.operators.graph import (
    GRAPH_FOLD_MAX_NODES,
    PR_BASE,
    PR_SCALE,
    events_pagerank,
    guard_model_nodes,
)


def test_pagerank_mass_and_floor(spark, sf_small):
    out = events_pagerank(spark, sf_small).toPandas()
    n = len(out)
    assert n > 0
    # Every node keeps at least the teleport term.
    assert (out["rank_micro"] >= PR_BASE).all()
    # Mass conservation upper bound: integer division and dangling nodes
    # only LOSE mass, so total rank never exceeds the initial N·SCALE.
    assert out["rank_micro"].sum() <= n * PR_SCALE
    # The damped share actually circulates: some node must sit above the
    # teleport-only floor (the transition graph is non-degenerate).
    assert (out["rank_micro"] > PR_BASE).any()


def test_pagerank_deterministic_across_builds(spark, sf_small):
    a = events_pagerank(spark, sf_small).toPandas().sort_values("node")
    b = events_pagerank(spark, sf_small).toPandas().sort_values("node")
    assert a["rank_micro"].tolist() == b["rank_micro"].tolist()


def test_model_fold_guard_raises_on_corpus_sized_graph():
    """The driver-fold premise (|V| is a datagen model constant) is now
    self-enforcing (r15, ADVICE #1): a corpus-sized node domain must raise
    loudly instead of silently folding on the driver."""
    guard_model_nodes(GRAPH_FOLD_MAX_NODES, "ok-at-bound")  # no raise
    with pytest.raises(ValueError, match="events_pagerank.*GRAPH_FOLD_MAX_NODES"):
        guard_model_nodes(10_000_000, "events_pagerank")


def test_transition_model_guard_fires_inside_collect(spark, sf_small, monkeypatch):
    """End-to-end: a blown-up node domain surfaces through
    `collect_transition_model` (every fused fold runs through it)."""
    from iceberg_table_generator_spark.operators import graph

    monkeypatch.setattr(graph, "GRAPH_FOLD_MAX_NODES", 3)
    with pytest.raises(ValueError, match="events_pagerank"):
        graph.collect_transition_model(spark, sf_small, "events_pagerank")


def test_transition_model_collect_stops_at_the_cap(spark, sf_small, monkeypatch):
    """The guard runs before the driver holds the relation: the collect
    goes through a limit of |V|² + |V| + 1 rows and raises on reaching it,
    so an oversized domain never pulls more than that."""
    from iceberg_table_generator_spark.operators import graph

    monkeypatch.setattr(graph, "GRAPH_FOLD_MAX_NODES", 3)
    cap = 3**2 + 3 + 1
    frame_cls = type(spark.range(1))
    pulled = []
    collect = frame_cls.collect

    def counted_collect(self):
        rows = collect(self)
        pulled.append(len(rows))
        return rows

    monkeypatch.setattr(frame_cls, "collect", counted_collect)
    with pytest.raises(ValueError, match=f"events_pagerank: the transition relation reached {cap} rows"):
        graph.collect_transition_model(spark, sf_small, "events_pagerank")
    assert pulled == [cap]
