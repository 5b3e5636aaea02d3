"""Summary statistics for benchmark samples.

A timing is reported as its median and, where the sample allows it, a
percentile that still has at least ``MIN_BEYOND`` samples above it: a p90
from 20 samples rests on two values and says nothing about the tail.
"""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10


def median(xs) -> float:
    xs = list(xs)
    if not xs:
        raise ValueError("median of no samples")
    return float(statistics.median(xs))


def percentile(xs, q: float) -> float | None:
    """Nearest-rank ``q``-th percentile of ``xs``, or None when fewer than
    ``MIN_BEYOND`` samples lie beyond it."""
    if not 0 < q < 100:
        raise ValueError(f"percentile must be in (0, 100), got {q}")
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return None
    rank = max(1, math.ceil(q / 100.0 * n))
    if n - rank < MIN_BEYOND:
        return None
    return float(s[rank - 1])
