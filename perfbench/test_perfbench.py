"""Tests of the benchmark's own logic; none of them starts Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path
from types import SimpleNamespace

import pandas as pd
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import inputgen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

BENCH = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())


# -- seeded op sequences ----------------------------------------------------------
def test_pass_order_is_a_seeded_permutation():
    a = workloads.pass_order(workloads.LLM_OPS, 7, 0)
    assert a == workloads.pass_order(workloads.LLM_OPS, 7, 0)
    assert sorted(a) == sorted(workloads.LLM_OPS)
    orders = {tuple(workloads.pass_order(workloads.LLM_OPS, s, p)) for s in range(4) for p in range(3)}
    assert len(orders) > 1


def test_lifecycle_plan_is_deterministic_per_seed():
    assert workloads.lifecycle_plan(3) == workloads.lifecycle_plan(3)
    assert workloads.lifecycle_plan(3) != workloads.lifecycle_plan(4)
    kinds = [s.kind for s in workloads.lifecycle_plan(3)]
    assert kinds == [s.kind for s in workloads.lifecycle_plan(4)]
    for kind in ("append", "delete_positional", "delete_equality", "merge",
                 "read", "read_pruned", "compact", "read_compacted", "expire"):
        assert kind in kinds
    assert kinds.index("compact") < kinds.index("read_compacted") < kinds.index("expire")


def test_lifecycle_plan_merge_updates_and_inserts():
    plan = workloads.lifecycle_plan(5)
    written = set()
    for step in plan:
        if step.kind in ("append", "merge"):
            _, first, rows, stride = step.batch
            keys = set(range(first, first + rows * stride, stride))
            if step.kind == "merge":
                assert 0 < len(keys & written) < len(keys)
            else:
                assert not keys & written
            written |= keys


def test_inputs_are_deterministic_per_seed():
    a, b, c = inputgen.tables(9, 0.001), inputgen.tables(9, 0.001), inputgen.tables(10, 0.001)
    assert set(a) == {
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    }
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == inputgen.row_counts(0.001)["lineitem"]
    texts = a["documents"].column("text").to_pylist()
    assert sum(t.endswith(" dup") for t in texts) == len(texts) // 20


# -- the tail-percentile rule ---------------------------------------------------------
@pytest.mark.parametrize(
    "n, want",
    [(0, None), (19, None), (20, 50), (24, 58), (40, 75), (100, 90), (200, 95), (1000, 99)],
)
def test_tail_percentile_leaves_ten_samples_beyond(n, want):
    assert stats.tail_percentile(n) == want


def test_percentile_interpolates_linearly():
    assert stats.percentile([4, 1, 3, 2], 50) == 2.5
    assert stats.percentile([1, 2, 3, 4, 5], 75) == 4
    assert stats.percentile([10], 99) == 10
    assert stats.percentile(list(range(101)), 90) == 90


def test_quartiles_are_statistics_quantiles():
    assert stats.quartiles([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]) == (2.75, 5.5, 8.25)


# -- span self-time arithmetic --------------------------------------------------------
def test_self_time_subtracts_the_union_of_children():
    S = tracing.Span
    spans = [
        S("op", 0.0, 10.0, None, 0),
        S("build", 1.0, 4.0, 0, 0),
        S("plan", 3.0, 5.0, 0, 0),  # overlaps build: the union counts once
        S("exec", 6.0, 12.0, 0, 0),  # runs past its parent: clipped
        S("inner", 7.0, 8.0, 3, 0),
    ]
    assert tracing.self_times(spans) == pytest.approx([10 - 4 - 4, 3, 2, 5, 1])


def test_covered_ignores_gaps_and_nesting():
    assert tracing.covered([(0, 1), (2, 3), (2.5, 2.7)], 0, 10) == pytest.approx(2)
    assert tracing.covered([], 0, 10) == 0


# -- lifecycle expected-rows oracle -----------------------------------------------------
def _batch(ids, names, amounts):
    return pd.DataFrame({"order_id": ids, "product_name": names, "amount": amounts})


def test_lifecycle_oracle_applies_appends_deletes_and_merges():
    o = workloads.LifecycleOracle()
    o.append(_batch([0, 1, 2], ["Widget 1", "Gizmo 2", "Widget 13"], [1.0, 2.0, 3.0]))
    o.append(_batch([3, 4], ["Gadget 5", "Gizmo 2"], [4.0, 5.0]))
    o.delete("product_name LIKE 'Widget 1%'")
    o.merge(_batch([1, 9], ["Gizmo 2", "Gadget 9"], [20.0, 9.0]), ["order_id"])
    got = o.rows().sort_values("order_id")
    assert got["order_id"].tolist() == [1, 3, 4, 9]
    assert got["amount"].tolist() == [20.0, 4.0, 5.0, 9.0]
    assert o.rows("order_id >= 4")["order_id"].tolist() == [4, 9]


def test_canonical_form_ignores_row_order_but_not_values():
    a = _batch([1, 2], ["x", "y"], [1.0, 2.0])
    assert workloads.canonical(a) == workloads.canonical(a.iloc[::-1])
    assert workloads.canonical(a) != workloads.canonical(_batch([1, 2], ["x", "y"], [1.0, 2.5]))


# -- Spark-side parsers -----------------------------------------------------------------
def test_plan_counts_reads_only_the_final_adaptive_plan():
    plan = (
        "AdaptiveSparkPlan isFinalPlan=true\n+- == Final Plan ==\n"
        "   ResultQueryStage 1\n   +- BroadcastHashJoin\n      :- ShuffleQueryStage 0\n"
        "      :  +- Exchange hashpartitioning(k, 4)\n"
        "      +- BroadcastQueryStage 2\n         +- BroadcastExchange HashedRelationBroadcastMode\n"
        "            +- MapInArrow fp(text)\n"
        "+- == Initial Plan ==\n   Exchange hashpartitioning(k, 200)\n"
    )
    assert tracing.plan_counts(plan) == (2, 1)


def test_parse_event_log_attributes_tasks_to_job_groups(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1], "Submission Time": 1000,
         "Properties": {"spark.jobGroup.id": "pb3/exec"}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3], "Submission Time": 2000,
         "Properties": {"spark.jobGroup.id": "pb3/exec"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3500},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 4000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Info": {"Accumulables": [{"Name": tracing.ARROW_TO_PYTHON, "Update": "100"}]},
         "Task Metrics": {"Executor Run Time": 1500, "Executor CPU Time": 5e8, "JVM GC Time": 10,
                          "Input Metrics": {"Bytes Read": 7},
                          "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2},
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 3},
                          "Memory Bytes Spilled": 4, "Disk Bytes Spilled": 5}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {"Executor Run Time": 99}},
    ]
    (tmp_path / "local-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    got = tracing.parse_event_log(str(tmp_path))
    assert set(got) == {"pb3/exec"}
    c = got["pb3/exec"]
    assert (c["tasks"], c["run_s"], c["cpu_s"], c["bytes_read"]) == (1, 1.5, 0.5, 7)
    assert (c["shuffle_read"], c["shuffle_write"], c["spill"], c["arrow_to_python"]) == (3, 3, 9, 100)
    assert c["job_s"] == pytest.approx(3.0)  # overlapping jobs count once


def test_mix_throughput_weighs_each_op_once_by_its_median():
    samples = [("a", 1.0), ("a", 1.2), ("a", 9.0), ("b", 0.5)]
    assert stats.mix_throughput(samples) == pytest.approx(2 / (1.2 + 0.5))
    assert stats.mix_throughput([("a", 2.0), ("a", 2.0)]) == pytest.approx(0.5)


def test_ok_frac_counts_warm_pass_mismatches():
    rss = {"python": 1.0, "jvm": 2.0, "workers": 0.0}
    timed = [{"label": "a", "dur": 1.0, "ok": True}] * 3
    e2e = run.end_to_end(timed, {"a": True, "b": False}, 3.0, rss, 20.0)
    assert e2e["ok_frac"]["value"] == pytest.approx(4 / 5)


# -- the output format --------------------------------------------------------------------
def test_metric_names_match_benchmark_json():
    rss = {"python": 1.0, "jvm": 2.0, "workers": 0.0}
    e2e = run.end_to_end([{"label": "a", "dur": 1.0, "ok": True}], {"a": True}, 3.0, rss, 20.0)
    assert set(e2e) == {m["name"] for m in BENCH["end_to_end"]}
    tracer = SimpleNamespace(ops=[], spans=[])
    layers = run.per_layer(tracer, [], {}, {}, {"import": 1, "session": 1, "warm": 1}, rss, 4)
    assert set(layers) == {m["name"] for m in BENCH["per_layer"]}
    units = {m["name"]: m["unit"] for m in BENCH["end_to_end"] + BENCH["per_layer"]}
    assert all(v["unit"] == units[k] for k, v in {**e2e, **layers}.items())
    assert set(run.NOMINAL_PASS_S) == {w["name"] for w in BENCH["workloads"]} == set(workloads.WORKLOADS)
