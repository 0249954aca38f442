"""Percentiles for the serving-path benchmark."""

from __future__ import annotations

import math


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank ``q``-quantile (0 < q <= 1) of ``values``."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(q * len(ordered)))
    return ordered[rank - 1]


def tail(values: list[float], beyond: int = 10) -> tuple[int, float] | None:
    """The tail latency to report, as ``(percent, value)``: p90 when
    there are at least 100 samples, otherwise the highest whole
    percentile that still has ``beyond`` samples above its rank. None
    when that would fall below the median (fewer than 20 samples)."""
    n = len(values)
    if n >= 100:
        pct = 90
    else:
        pct = 100 * (n - beyond) // n if n > beyond else 0
        while pct > 0 and n - math.ceil(pct * n / 100) < beyond:
            pct -= 1
    if pct < 50:
        return None
    return pct, percentile(values, pct / 100)
