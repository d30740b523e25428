"""Summary statistics shared by the benchmark and its steadiness harness."""

from __future__ import annotations

import math
import statistics

#: A tail percentile is meaningful only with this many samples beyond it.
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """The ``p``-th percentile with linear interpolation between closest
    ranks (numpy's default ``linear`` method)."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    rank = (len(xs) - 1) * p / 100.0
    lo = math.floor(rank)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (rank - lo)


def tail_percentile(n: int) -> int | None:
    """The highest whole percentile that leaves at least
    :data:`MIN_BEYOND` of ``n`` samples beyond it, or None when that is
    below the median."""
    p = math.floor(100 * (1 - MIN_BEYOND / n)) if n else 0
    return p if p >= 50 else None


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(first quartile, median, third quartile) as
    ``statistics.quantiles(values, n=4)`` gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def mix_throughput(samples: list[tuple[str, float]]) -> float:
    """Ops per second of an op mix from ``(label, seconds)`` samples: the
    number of distinct ops over the sum of each op's median time, so that
    every op weighs once per pass whatever its count of samples, and one
    slow sample of an op moves its median, not the throughput."""
    by_label: dict[str, list[float]] = {}
    for label, dur in samples:
        by_label.setdefault(label, []).append(dur)
    return len(by_label) / sum(statistics.median(d) for d in by_label.values())
