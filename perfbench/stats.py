"""Order statistics shared by the harness, the reporter and the tests."""

from __future__ import annotations

import math
import statistics
from typing import Optional, Sequence, Tuple

#: percentiles tried for the tail, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
#: samples that must lie beyond a percentile before it is reported
MIN_BEYOND = 10


def median(xs: Sequence[float]) -> float:
    return float(statistics.median(xs))


def nearest_rank(xs: Sequence[float], pct: float) -> Tuple[float, int]:
    """Nearest-rank percentile and the number of samples above its rank."""
    s = sorted(xs)
    k = max(1, math.ceil(round(pct * len(s) / 100.0, 9)))
    return float(s[k - 1]), len(s) - k


def tail(xs: Sequence[float], ladder: Sequence[float] = TAIL_LADDER,
         min_beyond: int = MIN_BEYOND) -> Optional[Tuple[float, float, int]]:
    """(value, percentile, samples beyond) of the highest ladder percentile
    with at least ``min_beyond`` samples beyond it; None when the sample is
    too small for any (fewer than 2 * min_beyond samples)."""
    for pct in sorted(ladder, reverse=True):
        value, beyond = nearest_rank(xs, pct)
        if beyond >= min_beyond:
            return value, pct, beyond
    return None

