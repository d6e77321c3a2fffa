"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math
import re
import statistics

# Percentiles a tail figure may be reported at, lowest first.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
METRIC_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def tail_percentile(n: int) -> float | None:
    """Highest ladder percentile with at least ten of ``n`` samples
    beyond it, or None when even the median has fewer than ten."""
    best = None
    for p in TAIL_LADDER:
        if round(n * (100.0 - p) / 100.0, 9) >= 10.0:
            best = p
    return best


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default rule)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(pos), math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values)
