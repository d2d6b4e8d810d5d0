"""Summary statistics for the benchmark's timings."""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10  # a tail percentile needs this many samples above it
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)


def _rank(pct: float, n: int) -> int:
    return max(1, math.ceil(round(pct / 100.0 * n, 9)))


def percentile(values, pct: float) -> float:
    """Nearest-rank percentile (the smallest value with at least pct% of
    the samples at or below it)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    return xs[_rank(pct, len(xs)) - 1]


def tail_pct(n: int) -> float | None:
    """The highest percentile of TAIL_LADDER that leaves at least
    MIN_BEYOND of n samples strictly above its rank, or None."""
    for pct in TAIL_LADDER:
        if n - _rank(pct, n) >= MIN_BEYOND:
            return pct
    return None


def tail(values) -> tuple[float | None, float | None]:
    """(percentile, value) of the highest supported tail, or (None, None)."""
    pct = tail_pct(len(values))
    return (pct, percentile(values, pct)) if pct is not None else (None, None)


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def slope_per_min(points) -> float:
    """Least-squares slope of (t_seconds, y) points, in y per minute."""
    if len(points) < 2:
        return 0.0
    ts = [t for t, _ in points]
    ys = [y for _, y in points]
    mt, my = statistics.fmean(ts), statistics.fmean(ys)
    var = sum((t - mt) ** 2 for t in ts)
    if var == 0:
        return 0.0
    return 60.0 * sum((t - mt) * (y - my) for t, y in points) / var
