"""Summary statistics for timing samples."""

from __future__ import annotations

import math
import statistics

#: percentiles the tail rule may report, lowest first
TAIL_CANDIDATES = (50, 75, 90, 95, 99)


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int, min_beyond: int = 10) -> int | None:
    """The highest candidate percentile of an ``n``-sample with at least
    ``min_beyond`` samples ranked strictly above it (its interpolation rank
    is ``(n - 1) * p / 100``); None when even the median has fewer."""
    best = None
    for p in TAIL_CANDIDATES:
        if (n - 1) - math.floor((n - 1) * p / 100.0) >= min_beyond:
            best = p
    return best


def summary(values: list[float]) -> dict:
    """Median, quartiles, sample count and the supported tail percentile."""
    out = {"n": len(values), "median": statistics.median(values)}
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
        out.update(q1=q1, q3=q3)
    tail = tail_percentile(len(values))
    if tail is not None:
        out[f"p{tail}"] = percentile(values, tail)
    return out
