"""Percentiles and sample summaries for timings."""

from __future__ import annotations

import math


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated ``q``-th percentile (0-100) of ``values``,
    the same rule as ``numpy.percentile``'s default."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo, hi = math.floor(pos), math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def summary(values: list[float]) -> dict[str, float]:
    """Median, 90th percentile and sample count of one timing; only the
    count when there are no samples (every attempt failed)."""
    if not values:
        return {"n": 0}
    return {"p50": percentile(values, 50), "p90": percentile(values, 90), "n": len(values)}
