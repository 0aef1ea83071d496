"""Small statistics helpers shared by the workloads (pure Python, no Spark)."""

from __future__ import annotations

import statistics

#: a reported tail percentile must leave at least this many samples
#: beyond it, or the next lower standard percentile is reported instead
MIN_BEYOND = 10


def rank(n: int, q: float) -> int:
    """1-based nearest rank of percentile ``q`` among ``n`` samples, in
    exact arithmetic on tenths of a percent (0.999 * 10000 is not 9990
    in floating point)."""
    return max(1, -(-round(q * 10) * n // 1000))


def percentile(values, q: float) -> float:
    """Nearest-rank percentile ``q`` (0-100) of a non-empty sequence."""
    if not values:
        raise ValueError("percentile of no samples")
    return sorted(values)[rank(len(values), q) - 1]


def tail_percentile(n: int, wanted: float = 99.0, min_beyond: int = MIN_BEYOND) -> float | None:
    """The highest of the standard tail percentiles, at most ``wanted``,
    that leaves at least ``min_beyond`` of ``n`` samples above it; None
    when not even the median does."""
    for q in (99.9, 99.0, 95.0, 90.0, 75.0, 50.0):
        if q > wanted:
            continue
        if n - rank(n, q) >= min_beyond:
            return q
    return None


def line_fit(xs, ys) -> tuple[float, float]:
    """Least-squares ``y = a + b*x``; returns ``(a, b)``.  Needs two
    distinct x values."""
    if len(xs) != len(ys) or len(xs) < 2:
        raise ValueError("line_fit needs at least two points")
    mx, my = statistics.fmean(xs), statistics.fmean(ys)
    sxx = sum((x - mx) ** 2 for x in xs)
    if sxx == 0:
        raise ValueError("line_fit needs two distinct x values")
    b = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx
    return my - b * mx, b


def median(values) -> float:
    return statistics.median(values)


def spread(values) -> float:
    """Interquartile distance as a share of the median (the acceptance
    rule for a metric's run-to-run spread)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
