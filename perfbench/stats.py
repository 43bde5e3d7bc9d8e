"""Order statistics shared by the workloads and the repeatability helper."""

from __future__ import annotations

import statistics


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, int]:
    """The highest sample with at least ten samples beyond it, and its
    percentile; the minimum (percentile 0) when there are too few."""
    if not xs:
        return 0.0, 0
    idx = max(0, len(xs) - 11)
    return sorted(xs)[idx], 100 * idx // len(xs)


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    """(first quartile, median, third quartile) as
    ``statistics.quantiles(xs, n=4)`` gives them."""
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3
