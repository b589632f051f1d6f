"""Sample statistics with the benchmark's reporting rule."""

from __future__ import annotations

import math
import statistics


def percentile(samples: list[float], q: float) -> float | None:
    """The q-th percentile (nearest rank), or None unless at least ten
    samples lie beyond it: a percentile resting on fewer is noise."""
    n = len(samples)
    if n == 0:
        return None
    rank = max(1, math.ceil(q / 100.0 * n))
    if n - rank < 10:
        return None
    return sorted(samples)[rank - 1]


def median(samples: list[float]) -> float | None:
    return statistics.median(samples) if samples else None


def spread(values: list[float]) -> float:
    """Inter-quartile range as a share of the median."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
