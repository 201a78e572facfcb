"""Summary statistics shared by the workloads."""

from __future__ import annotations

import math
import statistics

#: A tail percentile must leave at least this many samples beyond it.
TAIL_BEYOND = 10


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def geomean(xs: list[float]) -> float:
    if not xs:
        return 0.0
    return math.exp(sum(math.log(max(x, 1e-9)) for x in xs) / len(xs))


def tail_percentile(n: int, beyond: int = TAIL_BEYOND) -> int | None:
    """The highest whole percentile p with at least ``beyond`` of ``n``
    samples strictly above the p-th percentile rank, or None when the sample
    is too small to leave ``beyond`` samples past its median.

    With the samples sorted, the p-th percentile is the value at rank
    ``ceil(p/100 * n)`` (1-based); the samples beyond it number
    ``n - rank``."""
    for p in range(99, 49, -1):
        rank = math.ceil(p * n / 100)
        if n - rank >= beyond:
            return p
    return None


def percentile(xs: list[float], p: int) -> float:
    """Nearest-rank percentile, the rank rule ``tail_percentile`` uses."""
    s = sorted(xs)
    rank = max(1, math.ceil(p * len(s) / 100))
    return s[rank - 1]


def tail(xs: list[float]) -> tuple[int | None, float | None]:
    """(percentile, value) of the highest percentile the sample supports."""
    p = tail_percentile(len(xs))
    return (p, percentile(xs, p)) if p is not None else (None, None)
