"""Order statistics used by every workload.

Timings are reported as a median plus the highest percentile that still has
at least ten samples beyond it, with the sample count stated next to them.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

#: Percentiles considered for the tail, highest first.
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

#: Samples that must lie beyond a percentile before it may be reported.
MIN_BEYOND = 10


def percentile(values: Sequence[float], p: float) -> float:
    """Linear-interpolation percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: Sequence[float]) -> float:
    return percentile(values, 50.0)


def tail_percentile(n: int) -> float | None:
    """Highest candidate percentile with at least ``MIN_BEYOND`` of ``n``
    samples above it, or None when even the median is unsupported."""
    for p in TAIL_CANDIDATES:
        # Round before flooring: 1000 * 0.01 is 9.999999999999998 in binary.
        if math.floor(round(n * (100.0 - p) / 100.0, 9)) >= MIN_BEYOND:
            return p
    return None


def supports(n: int, p: float) -> bool:
    """True when a sample of ``n`` may report percentile ``p``."""
    best = tail_percentile(n)
    return best is not None and best >= p


def slope(points: Sequence[tuple[float, float]]) -> float:
    """Least-squares slope of y over x; 0.0 for fewer than two distinct x."""
    if len(points) < 2:
        return 0.0
    mx = sum(x for x, _ in points) / len(points)
    my = sum(y for _, y in points) / len(points)
    sxx = sum((x - mx) ** 2 for x, _ in points)
    if sxx == 0:
        return 0.0
    return sum((x - mx) * (y - my) for x, y in points) / sxx
