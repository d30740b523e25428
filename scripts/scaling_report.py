"""Generate SCALING.md: the per-query physical-plan scale inventory.

For every registered query, build the plan under
`spark.sql.autoBroadcastJoinThreshold = -1` (the 100 TB regime: nothing is
auto-broadcast-sized, so every BroadcastExchange in the plan is one OUR
code hinted) and record:

- shuffle exchange count (the initial plan's, before AQE coalescing),
- every hinted broadcast with its bounded-cardinality category (the same
  classifier tests/test_broadcast_invariant.py gates on),
- join strategies used,
- whole-stage-codegen region count.

Run:  python scripts/scaling_report.py   (writes SCALING.md at repo root)
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from iceberg_table_generator_spark import all_queries, get_spark
from iceberg_table_generator_spark.functions.cache import release_tracked
from iceberg_table_generator_spark.functions.order import (
    capture_bucket_histograms,
)
from iceberg_table_generator_spark.plans import explain

SF_DIR = "/root/testdata/sf0.001"
#: Bucket-balance histograms are re-measured at sf0.1 — at sf0.001 most
#: two-phase inputs sit under the 4096-rows-per-bucket floor (1 bucket,
#: max share 1.0 by construction), which says nothing about skew.
SF_HIST_DIR = "/root/testdata/sf0.1"

LIMIT = re.compile(r"TakeOrderedAndProject|GlobalLimit|CollectLimit")
SCALAR_AGG = re.compile(r"(?:Hash|Sort|Object\w*)Aggregate\(keys=\[\]")
LITERAL = re.compile(r"LocalTableScan|\bRange \(")
HEAVY_HITTER = re.compile(r"Filter \(\w+#\d+L? > \d+\)")
BENCH_FRACTION = re.compile(r"pmod\(doc_id#\d+L?, \d+\) = 0")
# In-plan `Filter id < N` OR the pushed-down scan form `LessThan(id,N)` —
# since the r14 `spread()` round-robin repartition, Catalyst pushes the
# query-id range THROUGH the exchange into the scan, so the bound lives in
# PushedFilters instead of a Filter node (same bound, same category).
ID_RANGE = re.compile(
    r"Filter .*\b\w*(?:_id|id|key)#\d+L? < \d+"
    r"|LessThan\(\w*(?:_id|id|key),\d+\)"
)
SCAN = re.compile(r"FileScan parquet \[[^\]]*\].*?\[file:([^\],]+)")
BUCKET_AGG = re.compile(r"Aggregate\(keys=\[_bkt#\d+")
LIT_BKT = re.compile(r"\b0 AS _bkt#\d+")  # degenerate single-bucket plan
DELETE_FILE = re.compile(r"/deletes/snap-\d+-")  # MoR delete-file reads
CLUSTER_PAIRS = re.compile(r"Scan ExistingRDD\[ca#\d+, ?cb#\d+\]")
CENTROID_ATTACH = re.compile(r"Scan ExistingRDD\[cid#\d+, ?cent#\d+\]")
TAU_GRID = re.compile(r"Scan ExistingRDD\[tau_micro#\d+L?\]")
CTX_GRID = re.compile(r"Scan ExistingRDD\[ctx_len#\d+\]")
DIM_GRID = re.compile(r"Scan ExistingRDD\[dim#\d+\]")
BAND_GRID = re.compile(
    r"Scan ExistingRDD\[n_bands#\d+, ?rows_per_band#\d+, ?thresh_micro#\d+"
)
METHOD_GRID = re.compile(r"Scan ExistingRDD\[method#\d+, ?bytes_per_vec#\d+")
RULES_GRID = re.compile(r"Scan ExistingRDD\[min_rules#\d+\]")

FIXED_DIMS = {"region", "nation"}
SCALING_DIMS = {"part", "supplier", "customer", "partsupp"}


def classify(sub: str) -> list[str]:
    cats: list[str] = []
    if LIMIT.search(sub):
        cats.append("limit-k")
    if SCALAR_AGG.search(sub):
        cats.append("scalar-agg")
    if LITERAL.search(sub):
        cats.append("driver-literal")
    if HEAVY_HITTER.search(sub) and "count(1)" in sub:
        cats.append("heavy-hitter")
    if BENCH_FRACTION.search(sub):
        cats.append("bench-fraction")
    if ID_RANGE.search(sub):
        cats.append("id-range")
    # Two-phase global-order offsets: an aggregate keyed on the reserved
    # `_bkt` bucket column (r10 deterministic literal-boundary buckets) —
    # <= one row per bucket, bounded by spark.sql.shuffle.partitions
    # (same rule as tests/test_broadcast_invariant.py).
    if BUCKET_AGG.search(sub) and ("CASE WHEN" in sub or LIT_BKT.search(sub)):
        cats.append("partition-offsets")
    paths = [m.group(1) for m in SCAN.finditer(sub)]
    tables = [p.rsplit("/", 1)[-1].removesuffix(".parquet") for p in paths]
    if tables and all(t in FIXED_DIMS for t in tables):
        cats.append("fixed-dim")
    elif tables and all(t in FIXED_DIMS | SCALING_DIMS for t in tables):
        cats.append("scaling-dim")
    if paths and all(DELETE_FILE.search(p) for p in paths):
        cats.append("delete-files")
    if CLUSTER_PAIRS.search(sub):
        cats.append("cluster-pairs")
    if CENTROID_ATTACH.search(sub):
        cats.append("centroid-attach")
    if TAU_GRID.search(sub):
        cats.append("threshold-grid")
    if CTX_GRID.search(sub):
        cats.append("context-length-grid")
    if DIM_GRID.search(sub):
        cats.append("dim-grid")
    if BAND_GRID.search(sub):
        cats.append("banding-plan-grid")
    if METHOD_GRID.search(sub):
        cats.append("method-bytes-grid")
    if RULES_GRID.search(sub):
        cats.append("strictness-grid")
    return cats or ["UNBOUNDED?"]


def _expand_reused(sub: str, full_simple: str) -> str:
    """Inline the origin subtree of every ReusedExchange reference.

    Since the r14 `spread()` repartition, a broadcast side can reuse the
    data side's exchange: the broadcast subtree then bottoms out at a
    `ReusedExchange …, [plan_id=N]` REFERENCE and the bounding filter
    (e.g. the pushed-down `vec_id < N_QUERIES` living under the ORIGIN
    exchange) is invisible to the classifier.  Resolve each reference to
    its origin's subtree text so classification sees the real leaf —
    the relation broadcast at runtime is the origin's output."""
    ids = re.findall(r"ReusedExchange .*?plan_id=(\d+)", sub)
    if not ids:
        return sub

    def depth(line: str) -> int:
        return len(re.match(r"^[\s:+\-|]*", line).group(0))

    lines = full_simple.splitlines()
    parts = [sub]
    for pid in ids:
        for i, line in enumerate(lines):
            if f"plan_id={pid}]" in line and "ReusedExchange" not in line:
                d = depth(line)
                seg = []
                for nxt in lines[i + 1 :]:
                    if not nxt.strip() or depth(nxt) <= d:
                        break
                    seg.append(nxt)
                parts.append("\n".join(seg))
                break
    return "\n".join(parts)


def main() -> None:
    spark = get_spark("scaling-report", master="local[8]", shuffle_partitions=8)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    queries = all_queries()

    rows = []
    two_phase: list[str] = []
    for name in sorted(queries):
        # Build WITHOUT histogram capture (r14): capture_bucket_histograms
        # changes the built plan itself (rfm_segments: 18 exchanges / 22
        # broadcasts under capture vs 12 / 8 in production), so the
        # recorded shape must come from the production build path.
        # Two-phase callers are detected from the classifier instead —
        # every with_global_order offsets broadcast classifies as
        # `partition-offsets` (verified identical to the capture-derived
        # set, 17/17).
        df = queries[name](spark, SF_DIR)
        # AQE wraps plans in AdaptiveSparkPlan whose INITIAL text carries
        # no codegen annotations (stages fuse at runtime); disable it for
        # the EXPLAIN only — after the build, because load_table's
        # ensure_session_confs re-enables it on every query construction.
        # Inspection-only: tests and production sessions keep AQE on.
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        nodes = explain.plan_nodes(df)
        joins = sorted(
            {n for n in nodes if n.endswith("Join") and not n.startswith("Broadcast Exchange")}
        )
        full_simple = explain.plan_text(df, mode="simple")
        bcasts = [
            "+".join(classify(_expand_reused(sub, full_simple)))
            for sub in explain.broadcast_subtrees(df)
        ]
        rows.append(
            {
                "name": name,
                "exchanges": explain.exchange_count(df),
                "joins": ", ".join(joins) or "—",
                "broadcasts": ", ".join(bcasts) or "—",
                "codegen": explain.wholestage_codegen_ids(df),
            }
        )
        if "partition-offsets" in rows[-1]["broadcasts"]:
            two_phase.append(name)
        # Inspect every plan CACHE-CLEAN (r14): persisted intermediates
        # and memoized relations from an earlier query otherwise leak
        # InMemoryRelation subtrees into later plans, making the recorded
        # shape depend on build order (and diverge from
        # tests/test_plan_shape.py, which releases per query).
        release_tracked()

    total_bc = sum(len(r["broadcasts"].split(", ")) for r in rows if r["broadcasts"] != "—")
    lines = [
        "# SCALING — per-query physical-plan scale inventory (auto-generated)",
        "",
        "Generated by `python scripts/scaling_report.py`; regenerate after",
        "plan-affecting changes.  Plans are built with",
        "`spark.sql.autoBroadcastJoinThreshold = -1` — the 100 TB regime where",
        "nothing is auto-broadcast-sized — so every broadcast listed is one the",
        "code explicitly hints, tagged with its bounded-cardinality category",
        "(definitions in `tests/test_broadcast_invariant.py`, which gates on",
        "the same classifier; `UNBOUNDED?` would fail that suite).",
        "",
        "- **exchanges**: shuffle exchanges in the initial plan (AQE may",
        "  coalesce at runtime; broadcasts are not counted — they move",
        "  bounded relations only).",
        "- **codegen**: whole-stage-codegen regions (fewer = wider fused",
        "  pipelines; 0 = plan is pure scan/exchange or non-codegen ops).",
        "",
        f"{len(rows)} queries, {total_bc} hinted broadcasts, "
        f"{sum(r['broadcasts'].count('UNBOUNDED?') for r in rows)} unbounded.",
        "",
        "| query | exchanges | join strategies | hinted broadcasts (bounded category) | codegen |",
        "|---|---|---|---|---|",
    ]
    for r in rows:
        lines.append(
            f"| {r['name']} | {r['exchanges']} | {r['joins']} | {r['broadcasts']} | {r['codegen']} |"
        )

    # Two-phase global-order callers: per-bucket balance, measured at
    # sf0.1 (r10 VERDICT #7 observability).  `max share` is the largest
    # bucket's row fraction across the query's with_global_order calls —
    # the direct empirical check on the r11 tie-aware composite
    # boundaries (a tie-heavy leading column without composites would
    # print ~1/2..1 here; balanced calls print ~1/n_buckets).
    lines += [
        "",
        "## Two-phase global-order callers — bucket balance (sf0.1)",
        "",
        "Collected via `functions/order.capture_bucket_histograms` during",
        "query construction at sf0.1 (histograms read the ≤ n_buckets-row",
        "totals relation the plan computes anyway).  `bounds` counts",
        "boundary literals (`composite` of them carry a tiebreak);",
        "`max share` is the worst bucket's row fraction over all calls;",
        "`buckets (populated)` separates the boundary-defined bucket count",
        "from how many actually received rows (the totals relation can't",
        "see empties, so equal numbers mean no bucket starved).",
        "",
        "| query | order calls | bounds (composite) | buckets (populated) | max share |",
        "|---|---|---|---|---|",
    ]
    for name in two_phase:
        sink = []
        with capture_bucket_histograms(sink):
            queries[name](spark, SF_HIST_DIR)
        release_tracked()
        calls = len(sink)
        bounds = sum(h["n_bounds"] for h in sink)
        comp = sum(h["n_composite"] for h in sink)
        buckets = max(h["n_buckets"] for h in sink)
        populated = max(len(h["counts"]) for h in sink)
        share = max(h["max_share"] for h in sink)
        lines.append(
            f"| {name} | {calls} | {bounds} ({comp}) | "
            f"{buckets} ({populated}) | {share} |"
        )

    # SemDeDup k-scaling: the measured Σcᵢ² at two (N, k ∝ √N) points
    # (r11 verdict #3 — makes the "k scales with the corpus" posture
    # empirical; the law assert lives in tests/test_semdedup_scaling.py).
    from iceberg_table_generator_spark.operators.wave13 import (
        semdedup_k_scaling_probe,
    )

    lines += [
        "",
        "## SemDeDup k-scaling (synthetic fixture, k ∝ √N)",
        "",
        "Measured by `operators/wave13.semdedup_k_scaling_probe` (shared",
        "with tests/test_semdedup_scaling.py, which asserts the law).  The",
        "pair join's cost driver Σ cᵢ² should follow N^1.5 when k ∝ √N —",
        "a 4× corpus step costs ~8× the pair work (fixed k would cost 16×).",
        "",
        "| N | k | Σ cᵢ² | prior pairs | step ratio (law 8.0 / fixed-k 16.0) |",
        "|---|---|---|---|---|",
    ]
    prev_c2 = None
    for n in (512, 2048):
        k, c2, pairs = semdedup_k_scaling_probe(spark, n)
        ratio = f"{c2 / prev_c2:.2f}" if prev_c2 else "—"
        lines.append(f"| {n} | {k} | {c2} | {pairs} | {ratio} |")
        prev_c2 = c2

    # MinHash-LSH candidate growth: the lexical twin of the SemDeDup law
    # (r12 verdict #3) — candidates under the production 16×4 banding
    # plan grow ~linearly in N at fixed duplicate rate.  The law assert
    # lives in tests/test_minhash_scaling.py.
    from iceberg_table_generator_spark.operators.wave19 import (
        minhash_candidate_scaling_probe,
    )

    lines += [
        "",
        "## MinHash-LSH candidate growth (synthetic fixture, fixed dup rate)",
        "",
        "Measured by `operators/wave19.minhash_candidate_scaling_probe`",
        "(shared with tests/test_minhash_scaling.py, which asserts the",
        "law).  At a fixed duplicate rate, band-bucket collisions bound",
        "candidates to ~linear growth — a 4× corpus step costs ~4× the",
        "candidate pairs (the all-pairs join the family avoids would cost",
        "16×).",
        "",
        "| N | planted dup pairs | LSH candidate pairs | step ratio (linear 4.0 / quadratic 16.0) |",
        "|---|---|---|---|",
    ]
    prev_c = None
    for n in (800, 3200):
        planted, cand = minhash_candidate_scaling_probe(spark, n)
        ratio = f"{cand / prev_c:.2f}" if prev_c else "—"
        lines.append(f"| {n} | {planted} | {cand} | {ratio} |")
        prev_c = cand

    # Measured runtime-scaling exponents (r12 verdict #2): plan shapes are
    # static guarantees; the exponent is the empirical check that no query
    # is accidentally super-linear inside bounded shapes.  Inputs are the
    # committed per-SF timing files from scripts/time_queries.py.
    import json
    import math

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    t_tiny_path = os.path.join(root, "TIMINGS_sf0.001.json")
    t_small_path = os.path.join(root, "TIMINGS_sf0.01.json")
    t_big_path = os.path.join(root, "TIMINGS_sf0.1.json")
    if all(
        os.path.exists(p) for p in (t_tiny_path, t_small_path, t_big_path)
    ):
        with open(t_tiny_path) as f:
            t_tiny = json.load(f)["queries"]
        with open(t_small_path) as f:
            t_small = json.load(f)["queries"]
        with open(t_big_path) as f:
            t_big = json.load(f)["queries"]
        # Two-decade fit (r13 verdict #5): the slope over sf0.001→sf0.1
        # halves the distortion from per-action fixed overhead, which
        # lowers the measurability floor from 1.0 s to 0.5 s and roughly
        # doubles the measurable set.
        MIN_SECS = 0.5
        measurable = sorted(
            (
                (
                    round(math.log10(t_big[n] / t_tiny[n]) / 2, 2),
                    round(math.log10(t_small[n] / t_tiny[n]), 2),
                    round(math.log10(t_big[n] / t_small[n]), 2),
                    n,
                    t_tiny[n],
                    t_small[n],
                    t_big[n],
                )
                for n in t_big
                if n in t_small
                and n in t_tiny
                and t_big[n] >= MIN_SECS
                and t_tiny[n] > 0
                and t_small[n] > 0
            ),
            reverse=True,
        )
        n_flag = sum(1 for e, d1, d2, *_ in measurable if e > 1.3)
        n_flag_d2 = sum(
            1 for e, d1, d2, *_, tb in measurable if d2 > 1.3 and tb >= 1.0
        )
        lines += [
            "",
            "## Measured runtime-scaling exponents (two-decade fit, "
            "sf0.001 → sf0.1)",
            "",
            "From `scripts/time_queries.py` runs at all three SFs (min of 2",
            "warm noop-write runs each; Spark side only, no oracle",
            "contention).  `exp` = log10(t(sf0.1)/t(sf0.001)) / 2 over a",
            "100× data step — fixed overhead cancels twice as well as the",
            "old one-decade slope, so the floor drops to",
            f"t(sf0.1) ≥ {MIN_SECS} s.  `d1`/`d2` are the per-decade slopes",
            "(sf0.001→0.01 and 0.01→0.1): late-onset super-linearity shows",
            "as d2 ≫ d1 even when the average is tame, so the guard",
            "(`tests/test_runtime_scaling.py`) flags exp > 1.3 at the low",
            "floor AND d2 > 1.3 at the 1 s floor; flagged queries need a",
            "written rationale there.",
            "",
            f"{len(measurable)} measurable queries, {n_flag} flagged on the",
            f"two-decade exponent, {n_flag_d2} on the second-decade slope.",
            "",
            "| query | t(sf0.001) s | t(sf0.01) s | t(sf0.1) s | exp | d1 | d2 | |",
            "|---|---|---|---|---|---|---|---|",
        ]
        for e, d1, d2, n, tt, ts, tb in measurable:
            mark = "⚠" if e > 1.3 or (d2 > 1.3 and tb >= 1.0) else ""
            lines.append(
                f"| {n} | {tt} | {ts} | {tb} | {e} | {d1} | {d2} | {mark} |"
            )

    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SCALING.md")
    with open(out, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    # Plan-shape snapshot (r13 verdict #6): the committed per-query
    # (exchanges, join strategies, broadcast count) inventory that
    # tests/test_plan_shape.py re-derives and diffs — an edit that
    # quietly adds a shuffle to an EXISTING query fails that suite until
    # this file is regenerated (making the plan change a reviewed diff).
    snap_path = os.path.join(os.path.dirname(out), "PLAN_SNAPSHOT.json")
    snapshot = {
        r["name"]: {
            "exchanges": r["exchanges"],
            "joins": r["joins"].replace("—", ""),
            "n_broadcasts": 0
            if r["broadcasts"] == "—"
            else len(r["broadcasts"].split(", ")),
        }
        for r in rows
    }
    with open(snap_path, "w", encoding="utf-8") as f:
        json.dump(snapshot, f, indent=1, sort_keys=True)
        f.write("\n")
    unbounded = [r["name"] for r in rows if "UNBOUNDED?" in r["broadcasts"]]
    print(
        f"wrote {out} + {snap_path}: {len(rows)} queries, "
        f"unbounded={unbounded or 'none'}"
    )


if __name__ == "__main__":
    main()
