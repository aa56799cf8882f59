"""Order statistics the benchmark reports."""

from __future__ import annotations

import statistics


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def tail(values: list[float], beyond: int = 10) -> tuple[float, float] | None:
    """The highest percentile that still has ``beyond`` samples above
    it: the value at sorted position ``n - beyond - 1`` and its
    percentile ``100 * (n - beyond) / n``. None when n <= beyond."""
    n = len(values)
    if n <= beyond:
        return None
    return float(sorted(values)[n - beyond - 1]), 100.0 * (n - beyond) / n


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with quartiles as ``statistics.quantiles``
    gives them."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
