"""Summary statistics the benchmark reports and checks its own spread with."""

from __future__ import annotations

import statistics


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    return float(statistics.median(values))


def quartile_spread(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median, with quartiles as ``statistics.quantiles(values, n=4)`` gives
    them (the spread a run-to-run comparison is judged by)."""
    if len(values) < 2:
        raise ValueError("quartile spread needs at least two values")
    q1, q2, q3 = statistics.quantiles(values, n=4)
    if q2 == 0:
        raise ValueError("quartile spread of values with a zero median")
    return (q3 - q1) / abs(q2)


def mean(values: list[float]) -> float:
    if not values:
        raise ValueError("mean of no values")
    return float(statistics.fmean(values))
