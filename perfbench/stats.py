"""Summary statistics for latency samples."""

from __future__ import annotations

import statistics

# candidate tail percentiles, highest first
TAIL_PERCENTILES = (99.9, 99.0, 90.0)
MIN_BEYOND = 10


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def _rank(p: float, n: int) -> int:
    """Nearest rank ceil(p% of n), exact for percentiles with one decimal."""
    return max(1, -(-round(p * 10) * n // 1000))


def percentile(xs: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``%
    of the samples at or below it."""
    return float(sorted(xs)[_rank(p, len(xs)) - 1])


def tail_percentile(n: int) -> float | None:
    """The highest of :data:`TAIL_PERCENTILES` with at least
    :data:`MIN_BEYOND` of ``n`` samples beyond it, or None when even the
    lowest has fewer."""
    for p in TAIL_PERCENTILES:
        if n - _rank(p, n) >= MIN_BEYOND:
            return p
    return None
