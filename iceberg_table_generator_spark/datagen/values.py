"""Seeded value-generator expressions — the reference's scalar library G1-G10.

Reference surface: `ValueGenerator.java` (single instance seeded 42,
row-at-a-time `java.util.Random`).  Per SURVEY.md §2.4 we do NOT emulate the
Java PRNG bit-for-bit; we reproduce the distribution + determinism contract
with Spark-native seeded expressions.

Determinism contract — stronger than the reference's: every "random" value
is a pure hash of (row id, seed, salt) via xxhash64, NOT a stateful RNG
stream.  `F.rand(seed)` is only deterministic per partition layout and
desynchronizes between expression instances when conditional branches skip
evaluation; a counter-free hash is reproducible for ANY partitioning, any
executor count, any re-run — the property that matters when regenerating a
100 TB table across 1000 executors.  Requires the input to carry the
`spark.range` id column (all builders here do).

Every generator returns Spark SQL expression text (`str`), not a `Column`:
a record builder splices the texts into ONE projection over `range(...)`,
which the JVM parses once.  Building the same tree node by node through the
Column API costs one to three py4j round trips per node (93,948 for the
1,000-column wide table).  The expressions themselves are JVM-side and
codegen'd: generating 10^12 rows is a range parallelized across the cluster
with zero Python in the hot path.  Python literals are spliced with
`sql_literal`, which types them as `F.lit` does.

| here | reference |
|---|---|
| ids / spark.range          | G1 `id()` monotonic ids (`ValueGenerator.java:28-30`) |
| pick                       | G2 `select(List)` (`ValueGenerator.java:32-34`) |
| uniform_int                | G3 `intRange` (`ValueGenerator.java:73-76`) |
| uniform_double             | G4 `doubleRange` (`ValueGenerator.java:78-81`) |
| timestamp_in_year          | G5 `timestamp(year)` (`ValueGenerator.java:40-67`) |
| random_timestamp           | G6 `timestamp()` (`ValueGenerator.java:36-38`) |
| date_in_year               | G7 `date(year)` (`ValueGenerator.java:69-71`) |
| char_range                 | G8 `charRange` (`ValueGenerator.java:83-86`) |
| string_range               | G9 `stringRange` (`ValueGenerator.java:88-97`) |
| (rerun the plan)           | G10 `reset()` (`ValueGenerator.java:23-26`) |
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SEED = 42


def ids(spark: SparkSession, n: int, num_partitions: int = 32, start: int = 0) -> DataFrame:
    """G1: gap-free monotonic id column 0..n-1 as `id`.

    `spark.range` is exact and distributed (unlike
    `monotonically_increasing_id`, which is gap-py across partitions).
    Pinned partition count keeps every seeded generator downstream
    deterministic."""
    return spark.range(start, start + n, 1, num_partitions)


def sql_literal(value: int | float | str) -> str:
    """SQL text of a Python literal, typed as `F.lit` types it: an int is
    INT or BIGINT by range (the parser picks the same type py4j's
    conversion does), a float is a `D`-suffixed DOUBLE (`repr`
    round-trips), and a string is quoted with `'` and `\\` escaped."""
    if isinstance(value, int):
        return str(value)
    if isinstance(value, float):
        return f"{value!r}D"
    if isinstance(value, str):
        return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
    raise TypeError(f"no SQL literal for {type(value).__name__}")


def quote_identifier(name: str) -> str:
    """A column name as a backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


_DENOM = float(1 << 40)


def _r(seed: int, salt: int, id_col: str = "id") -> str:
    """Independent uniform [0,1) per (row id, seed, salt): a pure hash, so
    the same row always sees the same value regardless of partitioning,
    evaluation order, or how many expressions reference it."""
    h = f"xxhash64({quote_identifier(id_col)}, {sql_literal(seed)}, {sql_literal(salt)})"
    return f"(CAST(pmod({h}, {1 << 40}) AS DOUBLE) / {sql_literal(_DENOM)})"


def _scaled_index(seed: int, salt: int, n: int, id_col: str = "id") -> str:
    """floor(uniform [0,1) × n) as BIGINT: a uniform index in [0, n)."""
    return f"FLOOR(({_r(seed, salt, id_col)} * {sql_literal(n)}))"


def uniform_int(
    lo: int, hi: int, seed: int = DEFAULT_SEED, salt: int = 0, id_col: str = "id"
) -> str:
    """G3: uniform int in [lo, hi)."""
    if hi <= lo:
        raise ValueError(f"require hi > lo, got [{lo}, {hi})")
    return f"CAST(({_scaled_index(seed, salt, hi - lo, id_col)} + {sql_literal(lo)}) AS INT)"


def uniform_double(lo: float, hi: float, seed: int = DEFAULT_SEED, salt: int = 0) -> str:
    """G4: uniform double in [lo, hi)."""
    return f"(({_r(seed, salt)} * {sql_literal(hi - lo)}) + {sql_literal(lo)})"


def pick(values: list, seed: int = DEFAULT_SEED, salt: int = 0) -> str:
    """G2: uniform pick from a literal list."""
    arr = ", ".join(sql_literal(v) for v in values)
    return f"element_at(array({arr}), CAST(({_scaled_index(seed, salt, len(values))} + 1) AS INT))"


def days_in_month(month: str) -> str:
    """Reference month-aware day counts with February ALWAYS 28 — the
    no-leap-year quirk of `ValueGenerator.java:53-54`, preserved."""
    return (
        f"CASE WHEN ({month} = 2) THEN 28 WHEN ({month} IN (4, 6, 9, 11)) THEN 30 ELSE 31 END"
    )


def timestamp_in_year(year: str | int, seed: int = DEFAULT_SEED, salt: int = 0) -> str:
    """G5: random timestamp within `year` (an int or an INT expression),
    preserving both reference quirks: February is always 28 days and
    hour ∈ [0, 22] (`nextInt(23)`, `ValueGenerator.java:64`)."""
    y = sql_literal(year) if isinstance(year, int) else year
    month = f"CAST(({_scaled_index(seed, salt + 1, 12)} + 1) AS INT)"
    day = f"CAST((FLOOR(({_r(seed, salt + 2)} * {days_in_month(month)})) + 1) AS INT)"
    hour = f"CAST({_scaled_index(seed, salt + 3, 23)} AS INT)"  # 0..22, as in the reference
    minute = f"CAST({_scaled_index(seed, salt + 4, 60)} AS INT)"
    second = f"CAST({_scaled_index(seed, salt + 5, 60)} AS INT)"
    return f"make_timestamp_ntz({y}, {month}, {day}, {hour}, {minute}, {second})"


def random_timestamp(
    current_year: int = 2026, seed: int = DEFAULT_SEED, salt: int = 0
) -> str:
    """G6: year uniform in [1, current_year - 10), then G5."""
    year = f"CAST(({_scaled_index(seed, salt, current_year - 11)} + 1) AS INT)"
    return timestamp_in_year(year, seed=seed, salt=salt + 10)


def date_in_year(year: str | int, seed: int = DEFAULT_SEED, salt: int = 0) -> str:
    """G7: `timestamp(year).toLocalDate()`."""
    return f"to_date({timestamp_in_year(year, seed=seed, salt=salt)})"


def char_range(lo: str, hi: str, seed: int = DEFAULT_SEED, salt: int = 0) -> str:
    """G8: uniform char in [lo, hi)."""
    lo_c, hi_c = ord(lo), ord(hi)
    if hi_c <= lo_c:
        raise ValueError(f"require hi > lo, got [{lo!r}, {hi!r})")
    return f"chr(({_scaled_index(seed, salt, hi_c - lo_c)} + {sql_literal(lo_c)}))"


def string_range(
    lo: str, hi: str, length: int, seed: int = DEFAULT_SEED, salt: int = 0
) -> str:
    """G9: per-position uniform char between bound strings, padded with
    'a'..'z' beyond the bounds' length (`ValueGenerator.java:88-97`)."""
    chars = []
    for i in range(length):
        lo_c = lo[i] if i < len(lo) else "a"
        hi_c = hi[i] if i < len(hi) else "z"
        if ord(hi_c) <= ord(lo_c):
            chars.append(sql_literal(lo_c))
        else:
            chars.append(char_range(lo_c, hi_c, seed=seed, salt=salt * 1000 + i))
    return f"concat({', '.join(chars)})"
