"""Percentile and tail rules for the benchmark's latency samples."""

from __future__ import annotations

import math

TAIL_MIN_BEYOND = 10  # a tail percentile needs this many samples above it


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``pct`` percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no values")
    ordered = sorted(values)
    rank = max(1, math.ceil(pct / 100 * len(ordered)))
    return float(ordered[rank - 1])


def tail(values: list[float], min_beyond: int = TAIL_MIN_BEYOND) -> tuple[float, float] | None:
    """The highest whole percentile that leaves at least ``min_beyond``
    samples strictly beyond its rank, as ``(pct, value)``; ``None``
    when there are too few samples for any (fewer than
    ``min_beyond + 1``)."""
    n = len(values)
    if n <= min_beyond:
        return None
    for pct in range(99, 0, -1):
        rank = max(1, math.ceil(pct / 100 * n))
        if n - rank >= min_beyond:
            return float(pct), percentile(values, pct)
    return None
