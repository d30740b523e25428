"""Per-op layer breakdown of registry queries, traced as in ``run.py``.

    python3 perfbench/opstats.py [--data DIR | --seed N] [--reps 3] name ...

Runs each named query once untraced to warm it, then ``--reps`` times
untraced and ``--reps`` times traced, back to back, on the inputs in
``--data`` or on the benchmark's generated inputs for ``--seed``.  Prints
one line per op: result rows, median untraced op time, the traced layer
self times (build, the jobs run while building, plan, exec) and their
shares, and the shuffle, Arrow and scan bytes per op.  Used to choose the
op lists of ``workloads.py`` and to compare the generated inputs with
other data of the same layout (NOTES.md).
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import time
from collections import Counter, defaultdict

import inputgen
import run
import tracing
import workloads


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--data")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--reps", type=int, default=3)
    p.add_argument("names", nargs="+")
    args = p.parse_args(argv)

    work = run.ROOT / ".perfbench_work" / f"opstats-{os.getpid()}"
    run.pin_environment(work)
    data = os.path.abspath(args.data) if args.data else str(work / "data")
    if not args.data:
        inputgen.write(data, args.seed, workloads.SF)
    sys.path.insert(0, str(run.ROOT))
    from iceberg_table_generator_spark import all_queries, get_spark

    queries = all_queries()
    with run.stderr_to(work / "jvm.log"):
        spark = get_spark("perfbench-opstats", extra_conf=run.session_conf(work, True))
    spark.sparkContext.setLogLevel("ERROR")
    tracer = tracing.Tracer(spark)
    untraced: dict[str, list[float]] = defaultdict(list)
    rows: dict[str, int] = {}
    try:
        for name in args.names:
            op = workloads.QueryOp(spark, name, queries[name], data)
            rows[name] = op.run(workloads.untraced)["rows"]
            for _ in range(args.reps):
                t0 = time.perf_counter()
                op.run(workloads.untraced)
                untraced[name].append(time.perf_counter() - t0)
                with tracer.op(name, "query"):
                    op.run(tracer.phase)
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        run.stop_spark(spark)
    events = tracing.parse_event_log(str(work / "eventlog"))
    shutil.rmtree(work, ignore_errors=True)

    layer: dict[str, Counter] = defaultdict(Counter)
    for span, self_s in zip(tracer.spans, tracing.self_times(tracer.spans)):
        label = tracer.ops[span.op]["label"]
        layer[label]["op" if span.parent is None else span.name] += self_s
        if span.parent is None:
            layer[label]["wall"] += span.end - span.start
    byte_keys = ("shuffle_write", "arrow_to_python", "bytes_read")
    print(f"{'op':36s} {'rows':>6s} {'op_s':>6s} {'build':>6s} {'bjobs':>6s} {'plan':>6s} "
          f"{'exec':>6s} {'b+p':>5s} {'fixed':>5s} {'shuffle':>9s} {'arrow':>9s} {'scan':>9s}")
    for name in args.names:
        n = args.reps
        c = layer[name]
        ids = [o["id"] for o in tracer.ops if o["label"] == name]
        ev = Counter()
        for i in ids:
            for ph in run.PHASES:
                ev.update(events.get(f"pb{i}/{ph}", Counter()))
        bjobs = sum(events.get(f"pb{i}/build", Counter())["job_s"] for i in ids) / n
        wall = c["wall"] / n
        bp = (c["build"] + c["plan"]) / n
        print(f"{name:36s} {rows[name]:6d} {statistics.median(untraced[name]):6.3f} "
              f"{c['build'] / n:6.3f} {bjobs:6.3f} {c['plan'] / n:6.3f} {c['exec'] / n:6.3f} "
              f"{bp / wall:5.2f} {(bp - bjobs) / wall:5.2f} "
              + " ".join(f"{ev[k] / n:9.0f}" for k in byte_keys))
    return 0


if __name__ == "__main__":
    sys.exit(main())
