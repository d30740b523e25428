"""Repo-wide guard: the lifecycle's private names stay in its module.

`ParquetSnapshotTable` commits in one protocol — resolve the branch head,
write files whose log entries record their schema, append one snapshot
with an optimistic parent check.  A caller that assembles a commit from
the private steps (`_head`, `_write_data_files`, `_commit`) or imports a
private helper repeats that protocol and drifts from it the next time the
log format changes.  The public surface covers every package caller:
`snapshot()` for the head, `append`/`overwrite`/`merge`/... for writes.

This suite fails if any package module other than `sources/lifecycle.py`
imports an `_`-prefixed name from `sources.lifecycle`, or calls
`._head(`, `._commit(` or `._write_data_files(` on anything.  Tests are
exempt: `test_concurrent_commit_detection` calls `_commit` on purpose, to
stage a commit race.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

PACKAGE = Path(__file__).resolve().parent.parent / "iceberg_table_generator_spark"
LIFECYCLE = PACKAGE / "sources" / "lifecycle.py"
PRIVATE_STEPS = {"_head", "_commit", "_write_data_files"}
MODULES = sorted(p for p in PACKAGE.rglob("*.py") if p != LIFECYCLE)


def private_uses(source: str) -> list[str]:
    """Each private-lifecycle import or private-step call in `source`."""
    found = []
    for node in ast.walk(ast.parse(source)):
        if (
            isinstance(node, ast.ImportFrom)
            and (node.module or "").split(".")[-1] == "lifecycle"
        ):
            found += [
                f"line {node.lineno}: imports {a.name}"
                for a in node.names
                if a.name.startswith("_")
            ]
        elif (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in PRIVATE_STEPS
        ):
            found.append(f"line {node.lineno}: calls .{node.func.attr}(")
    return found


def test_guard_sees_private_uses():
    source = (
        "from iceberg_table_generator_spark.sources.lifecycle import "
        "ParquetSnapshotTable, _schema_ddl\n"
        "from .lifecycle import _entry_files\n"
        "head, sid = table._head()\n"
        "table._write_data_files(df, head, sid)\n"
        "table._commit('overwrite', data_files=[])\n"
        "table.snapshot(); table.append(df)\n"
    )
    assert private_uses(source) == [
        "line 1: imports _schema_ddl",
        "line 2: imports _entry_files",
        "line 3: calls ._head(",
        "line 4: calls ._write_data_files(",
        "line 5: calls ._commit(",
    ]


@pytest.mark.parametrize(
    "path", MODULES, ids=[str(p.relative_to(PACKAGE)) for p in MODULES]
)
def test_no_private_lifecycle_use_outside_the_module(path):
    uses = private_uses(path.read_text())
    assert not uses, (
        f"{path.relative_to(PACKAGE)} reaches into sources/lifecycle.py's "
        f"private names; use ParquetSnapshotTable's public methods:\n"
        + "\n".join(uses)
    )
