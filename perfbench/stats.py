"""Order statistics used by the benchmark's metrics."""
import math

# percentiles tried for the tail, highest first
TAIL_LADDER = (99.9, 99.5, 99.0, 98.0, 95.0, 90.0, 80.0, 75.0, 50.0)
TAIL_MIN_BEYOND = 10


def nearest_rank(xs, p: float):
    """Nearest-rank percentile of ``xs``: the smallest sample with at least
    ``p`` percent of the samples at or below it."""
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


def tail(xs):
    """The highest percentile of ``xs`` (from ``TAIL_LADDER``) that has at
    least ``TAIL_MIN_BEYOND`` samples strictly beyond its rank.

    Returns ``(percentile, value)``, or ``None`` when even the median has
    fewer than ten samples beyond it (fewer than 20 samples)."""
    n = len(xs)
    for p in TAIL_LADDER:
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= TAIL_MIN_BEYOND:
            return p, nearest_rank(xs, p)
    return None
