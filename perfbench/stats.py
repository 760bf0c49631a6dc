"""Sample statistics with the reporting rule of the benchmark: a timing is
reported as its median and as the highest of the listed percentiles that
still has at least ten samples above it."""
from __future__ import annotations

import math

TAIL_PERCENTILES = (99, 95, 90)
MIN_BEYOND = 10


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50)


def geomean(values) -> float:
    """Geometric mean: every operation of a mixed round weighs the same,
    as in TPC-H's power metric."""
    return math.exp(sum(math.log(v) for v in values) / len(values))


def tail(values) -> tuple[int, float] | None:
    """(percentile, value) of the highest reportable tail percentile, or
    None when fewer than ``MIN_BEYOND`` samples would lie beyond any."""
    n = len(values)
    for q in TAIL_PERCENTILES:
        if n * (100 - q) / 100.0 >= MIN_BEYOND:
            return q, percentile(values, q)
    return None
