"""Percentiles with the sample-count rule the benchmark reports by.

A percentile is reported only when at least ``MIN_BEYOND`` samples lie
beyond it: with n samples, percentile q is supported when
n * (1 - q) >= MIN_BEYOND. The median therefore needs 20 samples and
p90 needs 100.
"""

from __future__ import annotations

import math

MIN_BEYOND = 10
LADDER = (0.999, 0.99, 0.95, 0.9, 0.75, 0.5)


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (numpy's default method)."""
    if not values:
        raise ValueError("quantile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def supported(n: int, q: float) -> bool:
    """True when ``n`` samples leave at least MIN_BEYOND beyond ``q``."""
    return n * (1.0 - q) >= MIN_BEYOND - 1e-9


def highest_supported(n: int) -> float | None:
    """The highest percentile on LADDER that ``n`` samples support."""
    for q in LADDER:
        if supported(n, q):
            return q
    return None
