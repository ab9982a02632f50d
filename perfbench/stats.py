"""Summary statistics for latency samples."""

from __future__ import annotations

import math
import statistics

#: Samples the tail percentile must leave beyond it.
MIN_BEYOND = 10


def median(values) -> float:
    return float(statistics.median(values))


def tail_percentile(n: int) -> int | None:
    """The highest whole percentile p with at least ``MIN_BEYOND``
    samples above the p-th percentile of ``n`` samples, or None when
    ``n`` is too small to have any such percentile.

    The p-th percentile is taken as the sample of rank ``ceil(p*n/100)``
    (nearest rank), so ``n - ceil(p*n/100)`` samples lie beyond it."""
    for p in range(99, 49, -1):
        if n - math.ceil(p * n / 100) >= MIN_BEYOND:
            return p
    return None


def tail(values) -> tuple[int | None, float]:
    """(percentile, value) for the tail rule: the highest percentile
    with at least ``MIN_BEYOND`` samples beyond it. With too few
    samples for even the median to qualify, the maximum is reported
    and the percentile is None."""
    ordered = sorted(values)
    p = tail_percentile(len(ordered))
    if p is None:
        return None, float(ordered[-1])
    return p, float(ordered[math.ceil(p * len(ordered) / 100) - 1])
