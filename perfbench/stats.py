"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math


def tail_percentile(values: list[float], beyond: int = 10) -> tuple[int, float] | None:
    """Highest whole percentile with at least ``beyond`` samples above it.

    Returns ``(percentile, value)`` where ``value`` is the nearest-rank
    sample at that percentile, or ``None`` when fewer than ``beyond + 1``
    samples exist and no percentile qualifies."""
    n = len(values)
    if n <= beyond:
        return None
    ordered = sorted(values)
    for pct in range(99, 0, -1):
        rank = max(1, math.ceil(pct * n / 100))  # nearest-rank, 1-based
        if n - rank >= beyond:
            return pct, ordered[rank - 1]
    return None
