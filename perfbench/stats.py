"""Summary statistics shared by the workloads."""

from __future__ import annotations

import statistics

# candidate tail percentiles, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile p among n samples, in exact
    integer arithmetic (p has at most one decimal)."""
    return max(1, -(-round(p * 10) * n // 1000))


def tail_percentile(n: int) -> float | None:
    """The highest ladder percentile with at least MIN_BEYOND of n
    samples beyond it; None when even the lowest has fewer."""
    for p in TAIL_LADDER:
        if n - _rank(p, n) >= MIN_BEYOND:
            return p
    return None


def percentile(values, p: float) -> float:
    """Nearest-rank percentile of a non-empty sample."""
    xs = sorted(values)
    return xs[_rank(p, len(xs)) - 1]


def median(values) -> float:
    return statistics.median(values)


def tail(values) -> tuple[float, str]:
    """(value, label) of the highest percentile with MIN_BEYOND
    samples beyond it, or of the maximum when the sample is too small
    for any ladder percentile."""
    p = tail_percentile(len(values))
    if p is None:
        return max(values), f"max of {len(values)}"
    return percentile(values, p), f"p{p:g} of {len(values)}"


def mean(values) -> float:
    return statistics.fmean(values) if values else 0.0

