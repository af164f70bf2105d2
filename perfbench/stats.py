"""Order statistics the benchmark reports: a timing is reported as its
median, and a metric's steadiness over runs as its quartile spread."""

from __future__ import annotations

import math


def median(values) -> float:
    xs = sorted(values)
    if not xs:
        raise ValueError("median of no samples")
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2


def quartile_spread(values) -> float:
    """Distance between the first and third quartile as a share of the
    median (Python's ``statistics.quantiles(values, n=4)`` convention)."""
    import statistics

    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else math.inf
