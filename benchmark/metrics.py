"""Metric math shared by the benchmark and its tests.  Pure Python."""

from __future__ import annotations

import statistics

TAIL_MIN_BEYOND = 10


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def tail(values, min_beyond: int = TAIL_MIN_BEYOND) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile that leaves at
    least `min_beyond` samples above it, read as the sorted sample at
    that rank.  When that percentile would not lie above the median
    (2 x `min_beyond` + 1 samples or fewer) there is no tail to read, and
    the maximum is returned, recorded as percentile 100."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= 2 * min_beyond + 1:
        return xs[-1], 100.0, n
    k = n - min_beyond  # 1-based rank with exactly min_beyond above it
    return xs[k - 1], 100.0 * k / n, n


def union(intervals) -> list[tuple[float, float]]:
    """Merge (start, end) intervals into disjoint sorted ones."""
    out: list[list[float]] = []
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def union_length(intervals) -> float:
    return sum(e - s for s, e in union(intervals))


def covered(start: float, end: float, intervals) -> float:
    """Length of [start, end] covered by `intervals` (clipped)."""
    return union_length(
        (max(s, start), min(e, end)) for s, e in intervals
    )


def self_time(start: float, end: float, children) -> float:
    """A span's duration minus the part of it its children cover;
    overlapping children count once."""
    return (end - start) - covered(start, end, children)


def generator_lag(due, actual) -> list[float]:
    """How late an open-loop generator ran: actual - due per item,
    never negative."""
    return [max(0.0, a - d) for d, a in zip(due, actual)]


def error_rate(failed: int, mismatched: int, attempted: int) -> float:
    """(failed ops + oracle mismatches) / ops attempted."""
    if attempted <= 0:
        raise ValueError("no ops attempted")
    return (failed + mismatched) / attempted


def spread(values) -> float:
    """Inter-quartile range as a share of the median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
