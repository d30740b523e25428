"""Spans, self times and Spark-side counters for the traced run.

Spans are recorded from the benchmark's own code around each call into the
engine (build, plan, exec, cache release, lifecycle write) and kept in memory
until the run ends.  Every phase runs under its own Spark job group,
``pb<op>/<phase>``, so the status tracker and the event log attribute jobs,
stages and task metrics to one phase of one op.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
import time
from collections import Counter, defaultdict
from collections.abc import Iterator
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    return [
        (s.end - s.start) - covered(children[i], s.start, s.end)
        for i, s in enumerate(spans)
    ]


class Tracer:
    """In-memory span recorder.  ``op(...)`` opens an op's root span;
    ``phase(name)`` opens a child span and runs the engine call under the
    phase's job group."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self.spans: list[Span] = []
        self.ops: list[dict] = []
        self._root: int | None = None

    @contextlib.contextmanager
    def op(self, label: str, kind: str) -> Iterator[dict]:
        rec = {"id": len(self.ops), "label": label, "kind": kind}
        self.ops.append(rec)
        self._root = len(self.spans)
        self.spans.append(Span("op", time.perf_counter(), 0.0, None, rec["id"]))
        try:
            yield rec
        finally:
            self.spans[self._root].end = time.perf_counter()
            self._root = None

    @contextlib.contextmanager
    def phase(self, name: str) -> Iterator[None]:
        op = self.spans[self._root].op
        self._sc.setJobGroup(f"pb{op}/{name}", f"{self.ops[op]['label']} {name}")
        span = Span(name, time.perf_counter(), 0.0, self._root, op)
        try:
            yield
        finally:
            span.end = time.perf_counter()
            self.spans.append(span)
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)


# -- Catalyst -----------------------------------------------------------------
_EXCHANGE = re.compile(r"\b(?:Broadcast|Reused|Shuffle)?Exchange\b")
_PYTHON = re.compile(
    r"\b(?:ArrowEvalPython|BatchEvalPython|MapInArrow|MapInPandas|PythonMapInArrow"
    r"|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|FlatMapGroupsInArrow"
    r"|AggregateInPandas|WindowInPandas|ArrowAggregatePython|ArrowWindowPython)\b"
)


def plan_counts(plan: str) -> tuple[int, int]:
    """(exchanges, Python-boundary nodes) in a physical plan string.  An
    adaptive plan prints its final plan and then its initial plan; only
    the final plan is counted."""
    final = plan.split("== Initial Plan ==")[0]
    return len(_EXCHANGE.findall(final)), len(_PYTHON.findall(final))


def phase_seconds(qe) -> dict[str, float]:
    """Catalyst phase durations from ``queryExecution().tracker()``."""
    out: dict[str, float] = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().durationMs() / 1000.0
    return out


# -- status tracker -----------------------------------------------------------
def group_jobs(sc, group: str) -> dict[str, int]:
    """Jobs, stages, tasks and failed tasks of one job group, plus how many
    of its jobs are parquet schema reads (stage named ``parquet at ...``)."""
    st = sc.statusTracker()
    out = Counter()
    for job in st.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = st.getJobInfo(job)
        stages = [st.getStageInfo(s) for s in (info.stageIds if info else [])]
        stages = [s for s in stages if s is not None]
        if any(s.name.startswith("parquet at ") for s in stages):
            out["schema_jobs"] += 1
        for s in stages:
            out["stages"] += 1
            out["tasks"] += s.numTasks
            out["failed_tasks"] += s.numFailedTasks
    return out


# -- event log ----------------------------------------------------------------
#: SQL metric names of the Python/Arrow boundary (PythonSQLMetrics).
ARROW_TO_PYTHON = "data sent to Python workers"
ARROW_FROM_PYTHON = "data returned from Python workers"


def parse_event_log(log_dir: str) -> dict[str, Counter]:
    """Task metrics summed per job group from an uncompressed, non-rolling
    Spark event log: run, CPU and GC time in seconds; input, output,
    shuffle, spill and Python/Arrow bytes; task count; and ``job_s``, the
    wall time the group's jobs cover (submission to completion)."""
    stage_group: dict[int, str] = {}
    job_start: dict[int, tuple[str, float]] = {}
    job_spans: dict[str, list[tuple[float, float]]] = defaultdict(list)
    out: dict[str, Counter] = defaultdict(Counter)
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if not os.path.isfile(path) or path.endswith(".crc"):
            continue
        with open(path) as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        job_start[ev["Job ID"]] = (group, ev.get("Submission Time", 0) / 1e3)
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = group
                elif '"SparkListenerJobEnd"' in line:
                    ev = json.loads(line)
                    if ev.get("Job ID") in job_start:
                        group, start = job_start.pop(ev["Job ID"])
                        job_spans[group].append((start, ev.get("Completion Time", 0) / 1e3))
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    group = stage_group.get(ev.get("Stage ID"))
                    if group is not None:
                        _add_task(out[group], ev)
    for group, spans in job_spans.items():
        out[group]["job_s"] = covered(spans, min(a for a, _ in spans), max(b for _, b in spans))
    return out


def _add_task(c: Counter, ev: dict) -> None:
    m = ev.get("Task Metrics") or {}
    c["tasks"] += 1
    c["run_s"] += m.get("Executor Run Time", 0) / 1e3
    c["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    c["bytes_read"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    c["bytes_written"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    c["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    c["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    c["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        name = acc.get("Name")
        if name == ARROW_TO_PYTHON:
            c["arrow_to_python"] += int(acc.get("Update", 0))
        elif name == ARROW_FROM_PYTHON:
            c["arrow_from_python"] += int(acc.get("Update", 0))
