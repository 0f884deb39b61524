"""Order statistics for the benchmark's timings."""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass


@dataclass(frozen=True)
class Percentile:
    """A nearest-rank percentile together with the sample it came from."""

    q: float
    value: float
    n: int


def percentile(values, q: float) -> Percentile:
    """Nearest-rank percentile: the smallest sample with at least ``q``%
    of the sample at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    if not 0 < q <= 100:
        raise ValueError(f"percentile rank {q} outside (0, 100]")
    rank = max(1, math.ceil(q / 100.0 * len(xs)))
    return Percentile(q, float(xs[rank - 1]), len(xs))


def median(values) -> float:
    return float(statistics.median(values))


def quartile_spread(values) -> float:
    """Distance between the first and third quartile as a share of the
    median, as ``statistics.quantiles(values, n=4)`` gives the quartiles."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
