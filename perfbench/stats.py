"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics

#: tail percentiles considered, highest last
PERCENTILES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def median(values) -> float:
    return float(statistics.median(values))


def tail(values, beyond: int = 10):
    """``(percentile, value)`` for the highest percentile in
    ``PERCENTILES`` with at least ``beyond`` samples above its
    nearest-rank position, or ``None`` when the sample is too small for
    any of them."""
    xs = sorted(values)
    n = len(xs)
    best = None
    for p in PERCENTILES:
        rank = max(1, math.ceil(p * n / 100.0 - 1e-9))  # float-safe ceil
        if n - rank >= beyond:
            best = (p, float(xs[rank - 1]))
    return best


def spread(values) -> float:
    """Inter-quartile distance as a share of the median, the way
    ``statistics.quantiles(values, n=4)`` places the quartiles."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
