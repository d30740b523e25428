"""Repo-wide guard: one tokenizer and one md5-60 hash, in `functions/text.py`.

"A token is the lowercased text split on single spaces" and "the 60-bit
hash is the first 15 hex digits of md5" are decisions every text, dedup
and pipeline operator and its DuckDB oracle must make the same way.  They
are written once, as `tokens`/`tokens_sql` and `md5_60`/`md5_60_sql`; an
inline copy is how the two engines, or two operators, drift apart.

This suite fails if any package module other than `functions/text.py`
contains one of the spelled-out forms, in code or in a string literal
(oracle SQL included).  Comments are not scanned, so a comment may still
explain the construction.  Deliberately different constructions are not
copies and stay: `string_split(text, ' ')` without `lower` (raw
whitespace tokens) and `md5(lower(text))` content keys.
"""

from __future__ import annotations

import io
import tokenize
from pathlib import Path

import pytest

PACKAGE = Path(__file__).resolve().parent.parent / "iceberg_table_generator_spark"
KERNEL = PACKAGE / "functions" / "text.py"
COPIES = ("F.split(F.lower(", "string_split(lower(", "substring(md5(")
MODULES = sorted(p for p in PACKAGE.rglob("*.py") if p != KERNEL)


def kernel_copies(source: str) -> list[str]:
    """Each spelled-out tokenizer or md5-60 copy in `source`, comments
    excluded."""
    lines = source.splitlines()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type == tokenize.COMMENT:
            row, col = tok.start
            lines[row - 1] = lines[row - 1][:col]
    return [
        f"line {i}: {p}" for i, line in enumerate(lines, 1) for p in COPIES if p in line
    ]


def test_guard_sees_each_copy():
    source = (
        'ws = F.split(F.lower("text"), " ")\n'
        "ORACLE = \"\"\"\n"
        "SELECT string_split(lower(text), ' ') AS ws,\n"
        "       CAST(('0x' || substring(md5(s), 1, 15)) AS BIGINT) AS h\n"
        "\"\"\"\n"
        "# F.split(F.lower( in a comment is an explanation, not a copy\n"
        "raw = \"string_split(text, ' ')\"; key = \"md5(lower(text))\"\n"
    )
    assert kernel_copies(source) == [
        "line 1: F.split(F.lower(",
        "line 3: string_split(lower(",
        "line 4: substring(md5(",
    ]


@pytest.mark.parametrize(
    "path", MODULES, ids=[str(p.relative_to(PACKAGE)) for p in MODULES]
)
def test_no_tokenizer_or_md5_60_copy_outside_the_kernel(path):
    copies = kernel_copies(path.read_text())
    assert not copies, (
        f"{path.relative_to(PACKAGE)} spells out a text kernel; call "
        "functions/text.py (tokens/tokens_sql, md5_60/md5_60_sql):\n"
        + "\n".join(copies)
    )
