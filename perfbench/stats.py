"""Summary statistics used by the benchmark report."""

from __future__ import annotations

import statistics

TAIL_MIN_BEYOND = 10


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def tail(values: list[float], min_beyond: int = TAIL_MIN_BEYOND) -> tuple[float, float] | None:
    """The highest percentile that still has at least ``min_beyond``
    samples above it, as (percentile, value). None with too few samples,
    and None when that percentile is at or below the median: such a value
    is no tail.

    With n sorted samples, the value at 1-based rank r has n - r samples
    beyond it, so the highest usable rank is n - min_beyond and its
    percentile is 100 * r / n.
    """
    n = len(values)
    rank = n - min_beyond
    if rank < 1 or 2 * rank <= n:
        return None
    return 100.0 * rank / n, float(sorted(values)[rank - 1])
