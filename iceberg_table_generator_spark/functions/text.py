"""The text kernels, each Spark kernel beside its DuckDB twin.

- a token is the lowercased text split on single spaces;
- an n-gram is n consecutive tokens joined by one space; fewer than n
  tokens give none (the CASE guard is load-bearing: ``sequence(0, -1)``
  descends, and ``slice(·, 0, n)`` throws);
- the engine-independent 60-bit hash is the first 15 hex digits of md5:
  Spark ``conv(substring(md5(s),1,15),16,10)`` equals DuckDB
  ``CAST('0x' || substring(md5(s),1,15) AS BIGINT)`` bit for bit.

The n-gram kernels take the name of an array column and build JVM
``sequence`` + ``transform`` expressions, no explode.
"""

from __future__ import annotations

from pyspark.sql import Column
import pyspark.sql.functions as F


def tokens(col: str | Column = "text") -> Column:
    """The token array of a text column: lowercased, split on single spaces."""
    return F.split(F.lower(col), " ")


def tokens_sql(expr: str = "text") -> str:
    """DuckDB twin of `tokens`."""
    return f"string_split(lower({expr}), ' ')"


def _windows(tokens: str, n: int) -> str:
    return (
        f"transform(sequence(0, size({tokens}) - {n}), "
        f"i -> concat_ws(' ', slice({tokens}, i + 1, {n})))"
    )


def ngrams(tokens: str, n: int) -> Column:
    """Every n-gram of the array column `tokens`, in order, repeats kept."""
    return F.expr(
        f"CASE WHEN size({tokens}) < {n} THEN array() "
        f"ELSE {_windows(tokens, n)} END"
    )


def shingles(tokens: str, n: int) -> Column:
    """The distinct n-grams (shingles) of the array column `tokens`."""
    return F.expr(
        f"CASE WHEN size({tokens}) < {n} THEN array() "
        f"ELSE array_distinct({_windows(tokens, n)}) END"
    )


def shingles_sql(tokens: str, n: int) -> str:
    """DuckDB twin of `shingles` over the 1-based list `tokens`."""
    gram = " || ' ' || ".join(
        f"{tokens}[i+{k}]" if k else f"{tokens}[i]" for k in range(n)
    )
    return (
        f"CASE WHEN len({tokens}) < {n} THEN [] "
        f"ELSE list_distinct(list_transform("
        f"generate_series(1, len({tokens}) - {n - 1}), i -> {gram})) END"
    )


def md5_60(col: Column) -> Column:
    """Engine-independent 60-bit hash: the first 15 hex digits of md5."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def md5_60_sql(expr: str) -> str:
    """DuckDB twin of `md5_60` (bit-identical)."""
    return f"CAST(('0x' || substring(md5({expr}), 1, 15)) AS BIGINT)"
