"""Summary statistics shared by the workloads."""

from __future__ import annotations

import math
import statistics

TAIL_LEVEL = 0.9


def tail(samples: list[float]) -> float:
    """p90 of ``samples`` (inclusive interpolation). A fixed level, so
    that runs with a few more or fewer samples report the same
    statistic."""
    if len(samples) == 1:
        return samples[0]
    return statistics.quantiles(samples, n=10, method="inclusive")[round(TAIL_LEVEL * 10) - 1]


def geomean(values: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))


def slope(ys: list[float]) -> float:
    """Least-squares slope of ``ys`` against their index."""
    n = len(ys)
    if n < 2:
        return 0.0
    mx = (n - 1) / 2
    my = statistics.fmean(ys)
    return sum((i - mx) * (y - my) for i, y in enumerate(ys)) / sum((i - mx) ** 2 for i in range(n))
