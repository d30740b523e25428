"""Driver collects bounded before any fold work.

A driver-side fold is sound only while its input is model-sized, so such
collects go through `collect_bounded`: it pulls at most one row past the
bound and raises, naming the query, when that row exists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row

#: Most distinct languages a language-keyed driver fold may collect.
MAX_LANGUAGES = 256


def collect_bounded(
    df: DataFrame, max_rows: int, query: str, relation: str = "collected relation"
) -> list[Row]:
    """The rows of `df` if there are at most `max_rows`, else ValueError."""
    rows = df.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"{query}: the {relation} reached {max_rows + 1} rows, above its "
            f"bound of {max_rows}; the model-sized driver-fold premise is "
            "violated, so restore the distributed form instead of raising the bound."
        )
    return rows
