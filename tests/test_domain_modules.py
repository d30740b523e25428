"""Domain guard: each query family lives in its domain module.

Operators are grouped by domain, not by the round that added them.  A
query whose name opens with a domain prefix must be registered by that
domain's module; the round-numbered ``operators/wave*.py`` modules still
left are held as a literal that may only shrink, in the manner of the
private-import ratchet (`test_private_imports.py`).

Reads ``fn.__module__`` of every registered query, so it needs no Spark
session.
"""

from __future__ import annotations

from pathlib import Path

import pytest

from iceberg_table_generator_spark.registry import all_queries

OPERATORS = Path(__file__).resolve().parent.parent / "iceberg_table_generator_spark" / "operators"
PREFIX = "iceberg_table_generator_spark.operators."

#: query-name prefix -> the modules allowed to register it.
DOMAINS = {
    "text_": {"text", "corpus"},
    "similarity_": {"similarity"},
    "meta_": {"metadata_tables"},
}

#: The round-numbered modules still to be dissolved into domain modules.
WAVE_MODULES = {
    "wave8.py",
    "wave9.py",
    "wave10.py",
    "wave11.py",
    "wave12.py",
    "wave13.py",
    "wave14.py",
    "wave16.py",
    "wave17.py",
    "wave18.py",
    "wave19.py",
}


def misplaced(modules: dict[str, str]) -> list[str]:
    """'name (module)' for each query registered outside its domain."""
    out = []
    for name, module in sorted(modules.items()):
        for prefix, homes in DOMAINS.items():
            if name.startswith(prefix) and module.removeprefix(PREFIX) not in homes:
                out.append(f"{name} ({module})")
    return out


def test_guard_sees_a_misplaced_query():
    assert misplaced(
        {
            "similarity_x": PREFIX + "wave14",
            "similarity_y": PREFIX + "similarity",
            "text_x": PREFIX + "corpus",
            "meta_x": PREFIX + "wave15",
            "dedup_x": PREFIX + "wave11",
        }
    ) == [
        f"meta_x ({PREFIX}wave15)",
        f"similarity_x ({PREFIX}wave14)",
    ]


@pytest.mark.parametrize("prefix", sorted(DOMAINS))
def test_domain_queries_live_in_their_module(prefix):
    modules = {
        n: fn.__module__ for n, fn in all_queries().items() if n.startswith(prefix)
    }
    assert modules, f"no registered {prefix}* query"
    assert not misplaced(modules), (
        f"{prefix}* queries outside {sorted(DOMAINS[prefix])}: "
        + ", ".join(misplaced(modules))
    )


def test_wave_modules_only_shrink():
    found = {p.name for p in OPERATORS.glob("wave*.py")}
    new = sorted(found - WAVE_MODULES)
    gone = sorted(WAVE_MODULES - found)
    assert not new, f"new round-numbered modules; name modules by domain: {new}"
    assert not gone, f"these wave modules are gone; strike them from WAVE_MODULES: {gone}"
