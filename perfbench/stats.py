"""Order statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics

#: candidate tail percentiles, highest last
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
#: a tail percentile needs at least this many samples above it
TAIL_MIN_BEYOND = 10


def _rank(p: float, n: int) -> int:
    """Number of samples at or below percentile p of n (nearest rank)."""
    return math.ceil(round(p / 100.0 * n, 9))


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest value with at least p% of
    the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    return xs[max(0, _rank(p, len(xs)) - 1)]


def tail_percentile(n: int) -> float | None:
    """Highest ladder percentile with at least TAIL_MIN_BEYOND of `n`
    samples beyond it, or None when even the median has too few."""
    best = None
    for p in TAIL_LADDER:
        if n - _rank(p, n) >= TAIL_MIN_BEYOND:
            best = p
    return best


def tail(values) -> tuple[float, float, int]:
    """(value, percentile, sample count) of the tail latency. With too
    few samples for any ladder percentile, the maximum is reported as
    percentile 100."""
    n = len(values)
    p = tail_percentile(n)
    if p is None:
        return max(values), 100.0, n
    return percentile(values, p), p, n


def quartiles(values) -> tuple[float, float, float]:
    """(first quartile, median, third quartile)."""
    xs = list(values)
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3
