"""Benchmark of the engine's public functions, driven from one process.

    python3 perfbench/run.py --workload llm_pipeline --seed 1 --seconds 6 --trace 0

Workloads (workloads.py, NOTES.md): ``llm_pipeline`` and
``table_lifecycle``.  One run:

1. pins the environment (cores, driver memory, local and temp dirs inside a
   fresh work directory of the checkout) and writes the seeded inputs;
2. set-up, timed as ``setup_s``: registry import, session start and the
   warm pass, which is also the correctness check (every op's collected
   result compared with its DuckDB oracle, outside the timed loop);
3. the timed loop: a closed loop, one client, a fixed number of whole
   passes (about ``--seconds`` long), each op timed from outside and its
   row count checked against the oracle after its timer stops;
4. with ``--trace 1`` traced ops also record spans around build / plan /
   exec / cache / write, run each phase under its own job group and write
   a Spark event log; untraced runs of the same ops give the overhead.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and the end-to-end metrics (``--trace 0``) or the
per-layer metrics (``--trace 1``).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from collections import Counter, defaultdict
from pathlib import Path

from py4j.protocol import Py4JError

import inputgen
import stats
import tracing
import workloads

ROOT = Path(__file__).resolve().parent.parent

#: Duration of one pass of each workload at the commit that defined the
#: benchmark (4 cores).  A run measures ``ceil(seconds / NOMINAL_PASS_S)``
#: whole passes, and at least :data:`MIN_PASSES`: at least ``--seconds``
#: there, and the same work, in the same op mix, on any commit it is
#: compared with.
NOMINAL_PASS_S = {"llm_pipeline": 5.0, "table_lifecycle": 10.0}

#: Every op is timed at least this many times per run, so that no op's
#: time (``table_lifecycle``'s merge, say) rests on one sample.
MIN_PASSES = 2

LIFECYCLE_KINDS = (
    "append", "delete_positional", "delete_equality", "merge",
    "read", "read_pruned", "compact", "expire", "read_compacted",
)


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def cores() -> int:
    return len(os.sched_getaffinity(0))


#: Driver heap, also committed at start (``-Xms``).  The engine's default of
#: 24g exceeds a 15 GB host and the inputs are about 2 MB; a heap that grows
#: on demand makes the JVM's resident set follow GC timing from run to run.
DRIVER_MEMORY = "1g"


def pin_environment(work: Path) -> None:
    """Everything the engine reads from the environment, fixed per run."""
    for d in ("local", "tmp"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = tempfile.tempdir = str(work / "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # the launcher JVM that spark-submit starts first (the driver JVM's
    # flags are in session_conf)
    os.environ["SPARK_LAUNCHER_OPTS"] = JVM_OPTS


#: Options of both JVMs.  No perf-data file: it would go to the system temp
#: dir, outside the work directory, whatever ``java.io.tmpdir`` says.  Only
#: the C1 compiler: with C2 as well, a JVM that lives for one run is still
#: recompiling the engine's hot paths tens of passes after the warm pass, so
#: op times follow the compiler's progress (NOTES.md).
JVM_OPTS = "-XX:-UsePerfData -XX:TieredStopAtLevel=1"


@contextlib.contextmanager
def stderr_to(path: Path):
    """Point file descriptor 2 at ``path`` while the JVM is launched, so
    the JVM and its Python workers log there instead of the console."""
    sys.stderr.flush()
    saved = os.dup(2)
    fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
    os.dup2(fd, 2)
    os.close(fd)
    try:
        yield
    finally:
        os.dup2(saved, 2)
        os.close(saved)


def session_conf(work: Path, trace: bool) -> dict[str, str]:
    java_opts = f"-Djava.io.tmpdir={work / 'tmp'} -Xms{DRIVER_MEMORY} {JVM_OPTS}"
    conf = {"spark.driver.extraJavaOptions": java_opts}
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (work / "eventlog").as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            }
        )
        (work / "eventlog").mkdir()
    return conf


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until the JVM has exited
    (its Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    with contextlib.suppress(Py4JError, OSError):
        gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _hwm_mb(pid) -> float:
    """Peak resident set (VmHWM) of a process in MiB, 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == pid:
                        out.append(int(entry))
            except (OSError, IndexError, ValueError):
                pass
    return out


def reset_peak_rss(pid) -> None:
    """Restart a process's VmHWM from its current resident set, so that a
    later read gives the peak of what ran in between."""
    with contextlib.suppress(OSError), open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def peak_rss(jvm_pid: int) -> dict[str, float]:
    workers, todo = 0.0, _children(jvm_pid)
    while todo:
        pid = todo.pop()
        workers += _hwm_mb(pid)
        todo.extend(_children(pid))
    return {"python": _hwm_mb("self"), "jvm": _hwm_mb(jvm_pid), "workers": workers}


# -- the timed loop -------------------------------------------------------------
def run_op(wl, op, tracer) -> dict:
    """Time one op from outside, then check its output (untimed)."""
    sample = {"label": op.label, "kind": op.kind, "traced": tracer is not None, "ok": False}
    t0 = time.perf_counter()
    try:
        if tracer is None:
            out = op.run(workloads.untraced)
        else:
            with tracer.op(op.label, op.kind) as rec:
                out = op.run(tracer.phase)
        sample["dur"] = time.perf_counter() - t0
        sample["ok"] = wl.verify(op, out)
    except Exception:  # noqa: BLE001 — a failing op is counted, not fatal
        traceback.print_exc()
        sample["dur"] = time.perf_counter() - t0
        return sample
    if tracer is not None:
        qe = out.get("qe")
        if qe is not None:
            rec["exchanges"], rec["python_nodes"] = tracing.plan_counts(
                qe.executedPlan().toString()
            )
            rec["phases"] = tracing.phase_seconds(qe)
        rec["persists"] = out.get("persists", 0)
        if hasattr(op, "table_stats"):
            rec.update(op.table_stats())
    return sample


def measure(wl, passes: int, tracer=None) -> list[dict]:
    """``passes`` whole passes, each op timed from outside.

    With a tracer every op of a repeatable workload runs untraced and
    traced back to back, over an even number of passes; an op goes traced
    first on every other of its runs, so that each op's traced and
    untraced runs sit alike first and second.  Otherwise odd passes are
    traced, and at least three passes run so that the traced pass sits
    between two untraced ones."""
    samples: list[dict] = []
    paired = tracer is not None and wl.repeatable
    if paired:
        passes += passes % 2
    elif tracer is not None:
        passes = max(passes, 3)
    runs: Counter = Counter()
    for p in range(passes):
        t = time.perf_counter()
        for op in wl.pass_ops(p):
            if paired:
                runs[op.label] += 1
                for traced in ((tracer, None) if runs[op.label] % 2 else (None, tracer)):
                    samples.append(run_op(wl, op, traced))
            else:
                samples.append(run_op(wl, op, tracer if p % 2 else None))
        print(f"pass {p}: {time.perf_counter() - t:.3f} s", file=sys.stderr)
    by_label: dict[str, list[float]] = defaultdict(list)
    for s in samples:
        by_label[s["label"]].append(s["dur"])
    for label, durs in sorted(by_label.items()):
        print(f"  {label}: " + " ".join(f"{d:.3f}" for d in durs), file=sys.stderr)
    return samples


# -- metrics --------------------------------------------------------------------
def _m(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def end_to_end(samples, checks, setup_s, rss, stored) -> dict:
    """``ops_per_s`` is the closed loop's throughput over the op mix: ops
    per pass over the sum of each op's median time, so that one slow
    sample (a GC pause, a JIT compile) does not move it; the untimed
    output checks between ops do not count.  ``op_tail_s`` is the highest
    percentile with ten samples beyond it, the median when a run has fewer
    than 20 ops.  ``ok_frac`` counts the warm pass's oracle comparisons
    (``checks``) as ops too."""
    durs = [s["dur"] for s in samples]
    tail = stats.tail_percentile(len(durs)) or 50
    oks = [s["ok"] for s in samples] + list(checks.values())
    return {
        "setup_s": _m(setup_s, "s"),
        "ops_per_s": _m(stats.mix_throughput([(s["label"], s["dur"]) for s in samples]), "1/s"),
        "op_p50_s": _m(statistics.median(durs), "s"),
        "op_tail_s": _m(stats.percentile(durs, tail), "s"),
        "ok_frac": _m(sum(oks) / len(oks), "ratio"),
        "peak_rss_mb": _m(rss["python"] + rss["jvm"], "MB"),
        "stored_bytes_per_row": _m(stored, "bytes"),
    }


PHASES = ("build", "plan", "exec", "cache", "write")


def per_layer(tracer, samples, groups, events, setup, rss, n_cores) -> dict:
    """Per-layer metrics of the traced ops.  Times, counts and bytes are
    means per traced op of the workload's op mix unless named otherwise;
    layer times are self times."""
    ops = tracer.ops
    n = max(1, len(ops))
    layer, children = Counter(), Counter()
    wall: dict[int, float] = {}
    for span, self_s in zip(tracer.spans, tracing.self_times(tracer.spans)):
        if span.parent is None:
            wall[span.op] = span.end - span.start
            layer["process"] += self_s
        else:
            layer[span.name] += self_s
            children[span.op] += span.end - span.start

    def of(src: dict, o: dict, phase: str) -> Counter:
        return src.get(f"pb{o['id']}/{phase}", Counter())

    def per_op(src: dict, phases: tuple[str, ...], key: str) -> float:
        return sum(of(src, o, ph)[key] for o in ops for ph in phases) / n

    def kind_mean(kind: str, value) -> float:
        vals = [value(o) for o in ops if o["kind"] == kind]
        return statistics.mean(vals) if vals else 0.0

    phase_s = Counter()
    for o in ops:
        phase_s.update(o.get("phases", {}))
    exec_run_s = sum(of(events, o, "exec")["run_s"] for o in ops)

    # each op's traced runs against its untraced runs: mean times per label
    untraced: dict[str, list[float]] = defaultdict(list)
    for s in samples:
        if not s["traced"] and s["ok"]:
            untraced[s["label"]].append(s["dur"])
    traced: dict[str, list[tuple[float, float]]] = defaultdict(list)
    for o in ops:
        if o["id"] in wall and untraced.get(o["label"]):
            traced[o["label"]].append((wall[o["id"]], children[o["id"]]))
    overhead, coverage = [], []
    for label, runs in traced.items():
        base = statistics.mean(untraced[label])
        overhead.append(statistics.mean(w for w, _ in runs) - base)
        coverage.append(statistics.mean(c for _, c in runs) / base)
    op_s = sum(wall.values()) or 1.0
    build_jobs_s = per_op(events, ("build",), "job_s")

    m = {
        "session.start_s": _m(setup["session"], "s"),
        "registry.import_s": _m(setup["import"], "s"),
        "warm.s": _m(setup["warm"], "s"),
        "build.s": _m(layer["build"] / n, "s"),
        "build.jobs": _m(per_op(groups, ("build",), "jobs"), "count"),
        "build.schema_jobs": _m(per_op(groups, ("build",), "schema_jobs"), "count"),
        "build.jobs_s": _m(build_jobs_s, "s"),
        "plan.s": _m(layer["plan"] / n, "s"),
        "plan.analysis_s": _m(phase_s["analysis"] / n, "s"),
        "plan.optimization_s": _m(phase_s["optimization"] / n, "s"),
        "plan.planning_s": _m(phase_s["planning"] / n, "s"),
        "plan.exchanges": _m(sum(o.get("exchanges", 0) for o in ops) / n, "count"),
        "plan.python_nodes": _m(sum(o.get("python_nodes", 0) for o in ops) / n, "count"),
        "exec.s": _m(layer["exec"] / n, "s"),
        "exec.jobs": _m(per_op(groups, ("exec",), "jobs"), "count"),
        "exec.stages": _m(per_op(groups, ("exec",), "stages"), "count"),
        "exec.tasks": _m(per_op(groups, ("exec",), "tasks"), "count"),
        "exec.failed_tasks": _m(per_op(groups, ("exec",), "failed_tasks"), "count"),
        "cache.s": _m(layer["cache"] / n, "s"),
        "cache.persists": _m(sum(o.get("persists", 0) for o in ops) / n, "count"),
        "lifecycle.write_s": _m(layer["write"] / n, "s"),
        "process.self_s": _m(layer["process"] / n, "s"),
        "task.run_s": _m(per_op(events, PHASES, "run_s"), "s"),
        "task.cpu_s": _m(per_op(events, PHASES, "cpu_s"), "s"),
        "task.gc_s": _m(per_op(events, PHASES, "gc_s"), "s"),
        "task.utilization": _m(
            exec_run_s / (layer["exec"] * n_cores) if layer["exec"] else 0.0, "ratio"
        ),
        "scan.bytes_read": _m(per_op(events, PHASES, "bytes_read"), "bytes"),
        "shuffle.write_bytes": _m(per_op(events, PHASES, "shuffle_write"), "bytes"),
        "shuffle.read_bytes": _m(per_op(events, PHASES, "shuffle_read"), "bytes"),
        "spill.bytes": _m(per_op(events, PHASES, "spill"), "bytes"),
        "arrow.bytes_to_python": _m(per_op(events, PHASES, "arrow_to_python"), "bytes"),
        "arrow.bytes_from_python": _m(per_op(events, PHASES, "arrow_from_python"), "bytes"),
        "share.build_plan": _m((layer["build"] + layer["plan"]) / op_s, "ratio"),
        "share.fixed": _m((layer["build"] + layer["plan"] - build_jobs_s * n) / op_s, "ratio"),
        "trace.overhead_s": _m(statistics.mean(overhead) if overhead else 0.0, "s"),
        "trace.coverage": _m(statistics.median(coverage) if coverage else 0.0, "ratio"),
        "trace.coverage_min": _m(min(coverage, default=0.0), "ratio"),
        "trace.coverage_max": _m(max(coverage, default=0.0), "ratio"),
        "rss.python_mb": _m(rss["python"], "MB"),
        "rss.jvm_mb": _m(rss["jvm"], "MB"),
        "rss.workers_mb": _m(rss["workers"], "MB"),
    }
    for kind in LIFECYCLE_KINDS:
        m[f"lifecycle.{kind}_s"] = _m(kind_mean(kind, lambda o: wall.get(o["id"], 0.0)), "s")

    # read amplification: files behind each read before compaction
    amp = [o for o in ops if o["kind"] in ("read", "read_pruned")]
    m["lifecycle.data_files"] = _m(
        statistics.mean(o.get("data_files", 0) for o in amp) if amp else 0.0, "count"
    )
    m["lifecycle.delete_files"] = _m(
        statistics.mean(o.get("delete_files", 0) for o in amp) if amp else 0.0, "count"
    )
    # a pruned read against the full read of the same snapshot just before it
    ratios = [
        of(events, o, "exec")["bytes_read"] / of(events, prev, "exec")["bytes_read"]
        for prev, o in zip(ops, ops[1:])
        if o["kind"] == "read_pruned" and prev["kind"] == "read"
        and of(events, prev, "exec")["bytes_read"]
    ]
    m["lifecycle.prune_ratio"] = _m(statistics.mean(ratios) if ratios else 0.0, "ratio")
    # bytes a lifecycle writes against the data it leaves after compaction
    written = sum(of(events, o, "write")["bytes_written"] for o in ops)
    final = sum(o.get("data_bytes", 0) for o in ops if o["kind"] == "expire")
    m["lifecycle.write_amp"] = _m(written / final if final else 0.0, "ratio")
    m["lifecycle.compact_bytes_rewritten"] = _m(
        kind_mean("compact", lambda o: of(events, o, "write")["bytes_written"]), "bytes"
    )
    m["lifecycle.metadata_bytes"] = _m(
        max((o.get("metadata_bytes", 0) for o in ops), default=0), "bytes"
    )
    return m


# -- one run --------------------------------------------------------------------
def run(args: argparse.Namespace, work: Path) -> dict:
    trace = bool(args.trace)
    data_dir = work / "data"
    if args.workload != "table_lifecycle":
        inputgen.write(str(data_dir), args.seed, workloads.SF)

    sys.path.insert(0, str(ROOT))
    t0 = time.perf_counter()
    from iceberg_table_generator_spark import all_queries, get_spark

    all_queries()
    t_import = time.perf_counter() - t0

    conf = session_conf(work, trace)
    t0 = time.perf_counter()
    with stderr_to(work / "jvm.log"):
        spark = get_spark("perfbench", extra_conf=conf)
    t_session = time.perf_counter() - t0
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    jvm_pid = sc._gateway.proc.pid
    try:
        wl = workloads.make(args.workload, spark, args.seed, str(data_dir), str(work))
        t0 = time.perf_counter()
        warm_ok = wl.warm()
        t_warm = time.perf_counter() - t0
        # peak resident set of the timed loop only: not the warm pass's
        # collected results and DuckDB oracle
        reset_peak_rss("self")
        reset_peak_rss(jvm_pid)
        tracer = tracing.Tracer(spark) if trace else None
        passes = max(MIN_PASSES, math.ceil(args.seconds / NOMINAL_PASS_S[args.workload]))
        samples = measure(wl, passes, tracer)
        rss = peak_rss(jvm_pid)
        stored = wl.stored_bytes_per_row()
        groups: dict[str, Counter] = defaultdict(Counter)
        if trace:
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            for o in tracer.ops:
                for ph in ("build", "exec"):
                    groups[f"pb{o['id']}/{ph}"] = tracing.group_jobs(sc, f"pb{o['id']}/{ph}")
    finally:
        t0 = time.perf_counter()
        stop_spark(spark)
        print(f"session stop: {time.perf_counter() - t0:.3f} s", file=sys.stderr)

    setup = {"import": t_import, "session": t_session, "warm": t_warm}
    print("set-up: " + ", ".join(f"{k} {v:.3f} s" for k, v in setup.items()), file=sys.stderr)
    if trace:
        events = tracing.parse_event_log(str(work / "eventlog"))
        metrics = per_layer(tracer, samples, groups, events, setup, rss, cores())
    else:
        metrics = end_to_end(samples, warm_ok, sum(setup.values()), rss, stored)
    failed = sum(not s["ok"] for s in samples) + sum(not ok for ok in warm_ok.values())
    return {
        "correct": failed == 0,
        "attempted": len(samples) + len(warm_ok),
        "failed": failed,
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    pin_environment(work)
    os.chdir(work)
    try:
        result = run(args, work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            work.parent.rmdir()  # only when no other run is using it
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
