"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math

# Candidate tail percentiles, highest first.  A percentile is reportable
# only when at least MIN_BEYOND samples lie above it; otherwise the tail
# is one or two outliers and says nothing stable about the system.
TAIL_CANDIDATES = (90.0, 75.0, 50.0)
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    rank = (len(xs) - 1) * p / 100.0
    lo = math.floor(rank)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (rank - lo)


def tail_percentile(n: int) -> float | None:
    """The highest candidate percentile with at least MIN_BEYOND of ``n``
    samples beyond it, or None when even the median has fewer."""
    for p in TAIL_CANDIDATES:
        if n * (100.0 - p) / 100.0 >= MIN_BEYOND:
            return p
    return None


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
