"""Steadiness harness: run the benchmark repeatedly and report the spread.

    python3 perfbench/steady.py --runs 10 [--sets 2] [--workloads llm_pipeline,...]
        [--first-seed 1] [--trace 0] [--out steady.json]

Each run is ``perfbench/run.py`` with its own seed and the ``run_seconds``
of BENCHMARK.json.  The runs are interleaved the way a comparison runs
them: round ``i`` runs every set on every workload once, so that a shift
in the host's speed reaches every set alike.  Set ``s`` uses the seeds
``first_seed + 100 * s`` onwards.  For every metric of every set the report
gives the median, the quartiles (``statistics.quantiles(values, n=4)``)
and the spread (inter-quartile distance over the median), next to the
metric's bound, and the change of each later set's median against the
first set's, positive when worse.  It also gives each run's wall time and
what 22 runs per workload plus 4 more would take at those wall times.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
import time
from pathlib import Path

import stats

ROOT = Path(__file__).resolve().parent.parent


def one_run(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict | None, float]:
    cmd = [
        sys.executable, str(ROOT / "perfbench" / "run.py"),
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace),
    ]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        return None, wall
    return json.loads(lines[-1]), wall


def summarize(results: list[dict], bounds: dict) -> dict:
    metrics: dict = {}
    for name in results[0]["metrics"] if results else {}:
        vals = [r["metrics"][name]["value"] for r in results]
        q1, q2, q3 = stats.quartiles(vals) if len(vals) > 1 else (vals[0],) * 3
        metrics[name] = {
            "median": q2, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / q2 if q2 else None,
            "bound": bounds.get(name), "values": vals,
        }
    return metrics


def worse_by(first: float, later: float, better: str) -> float | None:
    """How much worse ``later`` is than ``first``, as a share of ``first``."""
    if not first:
        return None
    return (later - first) / first if better == "lower" else (first - later) / first


def main(argv: list[str] | None = None) -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [w["name"] for w in bench["workloads"]]
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--sets", type=int, default=2)
    p.add_argument("--workloads", default=",".join(names))
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out")
    args = p.parse_args(argv)
    defs = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    bounds = {n: m.get("bound") for n, m in defs.items()}
    wls = args.workloads.split(",")

    results = {(wl, s): [] for wl in wls for s in range(args.sets)}
    walls = {wl: [] for wl in wls}
    for i in range(args.runs):
        for s in range(args.sets):
            for wl in wls:
                seed = args.first_seed + 100 * s + i
                res, wall = one_run(wl, seed, bench["run_seconds"], args.trace)
                walls[wl].append(wall)
                if res is not None:
                    results[wl, s].append(res)
                print(f"{wl} set={s} seed={seed} wall={wall:.1f}s "
                      f"ok={res is not None and res['correct']}", file=sys.stderr, flush=True)

    report: dict = {"run_seconds": bench["run_seconds"], "workloads": {}}
    for wl in wls:
        sets = [summarize(results[wl, s], bounds) for s in range(args.sets)]
        report["workloads"][wl] = {
            "wall_s": walls[wl],
            "ok_runs": [sum(r["correct"] for r in results[wl, s]) for s in range(args.sets)],
            "sets": sets,
        }
        for name in sets[0]:
            m0 = sets[0][name]
            bound = m0["bound"]
            line = f"{wl:16s} {name:22s}"
            for k, m in enumerate(sets):
                if name not in m:
                    continue
                change = worse_by(m0["median"], m[name]["median"], defs[name]["better"]) if k else None
                spread = m[name]["spread"]
                line += f" | med={m[name]['median']:.5g} spr={spread if spread is not None else float('nan'):.3f}"
                if change is not None:
                    line += f" chg={change:+.3f}"
                    if bound is not None and change > bound:
                        line += " >bound"
                if bound and spread is not None and spread > bound / 3:
                    line += " >bound/3"
            print(line + f" | bound={bound}", file=sys.stderr)
    mean = {wl: sum(w) / len(w) for wl, w in walls.items() if w}
    report["projected_comparison_s"] = 22 * sum(mean.values()) + 4 * max(
        max(w) for w in walls.values() if w
    )
    print(f"projected time of 22 runs per workload + 4: {report['projected_comparison_s']:.0f} s",
          file=sys.stderr)
    text = json.dumps(report, indent=1)
    if args.out:
        Path(args.out).write_text(text)
    else:
        print(text)
    return 0


if __name__ == "__main__":
    sys.exit(main())
