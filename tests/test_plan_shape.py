"""Plan-shape regression guard (r13 verdict #6).

SCALING.md tables every query's exchanges / join strategies / hinted
broadcasts, but nothing FAILED when an edit quietly added a shuffle to
an existing query — the measured runtime exponents would catch it only
above their 1 s floor, a round later.  This suite re-derives the same
per-query (exchanges, join strategies, broadcast count) inventory that
`scripts/scaling_report.py` commits to PLAN_SNAPSHOT.json and fails on
any deviation for an EXISTING query, so a plan change only lands as a
reviewed regeneration of the snapshot (same pattern as
tests/test_runtime_scaling.py's EXPLAINED list).

Queries added since the last regeneration are reported but not failures
— the round checklist regenerates the snapshot with SCALING.md.
Queries REMOVED from the registry fail (stale snapshot).
"""

from __future__ import annotations

import json
from pathlib import Path

from iceberg_table_generator_spark import all_queries
from iceberg_table_generator_spark.functions.cache import release_tracked
from iceberg_table_generator_spark.plans import explain

SF_DIR = "/root/testdata/sf0.001"
SNAPSHOT = Path(__file__).parent.parent / "PLAN_SNAPSHOT.json"

#: Intentional plan-shape changes since the committed snapshot:
#: name → one-line rationale.  Entries here are skipped by the diff and
#: must be dropped when the snapshot is next regenerated.
#: Emptied 2026-10-18 with a snapshot regeneration
#: (scripts/scaling_report.py): the three r15 reshapes
#: (multimodal_fingerprint_dedup, dedup_one_pass_verdict,
#: multimodal_feature_simhash_dedup), the text_source_vocab_overlap fold
#: and the merge-on-read reads without side relations are now the
#: recorded baseline shapes in PLAN_SNAPSHOT.json.
EXPLAINED: dict[str, str] = {}


def _shape(df) -> dict:
    joins = sorted(
        {
            n
            for n in explain.plan_nodes(df)
            if n.endswith("Join") and not n.startswith("Broadcast Exchange")
        }
    )
    return {
        "exchanges": explain.exchange_count(df),
        "joins": ", ".join(joins),
        "n_broadcasts": len(explain.broadcast_subtrees(df)),
    }


def test_plan_shapes_match_snapshot(spark):
    assert SNAPSHOT.exists(), "run scripts/scaling_report.py to create it"
    snapshot = json.loads(SNAPSHOT.read_text())
    queries = all_queries()
    removed = sorted(set(snapshot) - set(queries))
    assert not removed, (
        f"snapshot lists queries no longer registered: {removed} — "
        "regenerate scripts/scaling_report.py"
    )

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    changed: list[str] = []
    new: list[str] = []
    try:
        for name in sorted(queries):
            df = queries[name](spark, SF_DIR)
            # Same inspection conditions as scaling_report.py: AQE off for
            # the explain only (load_table re-enables it per construction).
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            got = _shape(df)
            release_tracked()
            want = snapshot.get(name)
            if want is None:
                new.append(name)
            elif got != want and name not in EXPLAINED:
                changed.append(f"{name}: snapshot={want} now={got}")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", 10 * 1024 * 1024
        )
    if new:
        print(f"new since snapshot (regenerate at round end): {new}")
    assert not changed, (
        "plan shape changed for existing queries — if intentional, add an "
        "EXPLAINED rationale or regenerate scripts/scaling_report.py:\n"
        + "\n".join(changed)
    )
