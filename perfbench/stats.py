"""Summary statistics for timings."""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10  # samples that must lie beyond a reported tail percentile


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """-> (value, percentile, sample count): the highest nearest-rank
    percentile that still has at least `beyond` samples above its rank.
    With too few samples for any such percentile the maximum is reported as
    the 100th percentile, and the sample count says how little backs it."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    rank = n - beyond  # 1-based nearest rank with `beyond` samples after it
    if rank < 1:
        return float(xs[-1]), 100.0, n
    return float(xs[rank - 1]), 100.0 * rank / n, n


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
