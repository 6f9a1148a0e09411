"""Order statistics used by the benchmark and its steadiness report."""

from __future__ import annotations

import math
import statistics


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def tail_percentile(samples: list[float], min_beyond: int = 10) -> tuple[int, float, int] | None:
    """The highest whole percentile with at least ``min_beyond`` samples
    strictly after it in sorted order (nearest-rank definition).

    Returns (percentile, value, samples beyond), or None when the run has
    too few samples for any percentile of 50 or above to qualify."""
    xs = sorted(samples)
    n = len(xs)
    for p in range(99, 49, -1):
        rank = math.ceil(p * n / 100)
        if rank >= 1 and n - rank >= min_beyond:
            return p, xs[rank - 1], n - rank
    return None


def spread(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median, with the quartiles of ``statistics.quantiles(n=4)``."""
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = median(values)
    return (q3 - q1) / abs(med) if med else math.inf
