"""Percentiles with the sample-count rule the benchmark reports by."""

from __future__ import annotations

import math

#: a percentile is reported only when at least this many samples lie
#: beyond it, so p90 needs >= 100 operations
MIN_TAIL_SAMPLES = 10


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100] (numpy's default)."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_samples(n: int, q: float) -> int:
    """How many of ``n`` samples lie beyond the ``q``-th percentile."""
    return n - math.ceil(n * q / 100.0)


def reportable(n: int, q: float) -> bool:
    """True when ``n`` samples leave at least MIN_TAIL_SAMPLES beyond ``q``."""
    return tail_samples(n, q) >= MIN_TAIL_SAMPLES


def median(values: list[float]) -> float:
    return percentile(values, 50.0)
