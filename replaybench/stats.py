"""Order statistics for the run record: nearest rank, honest tails, drift."""

from __future__ import annotations

import math
from typing import Optional, Sequence

#: the tail percentile must leave at least this many samples beyond it
TAIL_MIN_BEYOND = 10
#: drift compares halves of at least this many samples each
DRIFT_MIN_HALF = 3


def nearest_rank(values: Sequence[float], p: float) -> float:
    """The p-th percentile by nearest rank: the smallest sample with at
    least p percent of the samples at or below it. No interpolation,
    so the result is always a measured sample."""
    if not values:
        raise ValueError("nearest_rank of no samples")
    if not 0 < p <= 100:
        raise ValueError(f"percentile {p} outside (0, 100]")
    ordered = sorted(values)
    rank = math.ceil(p / 100.0 * len(ordered))
    return ordered[max(rank, 1) - 1]


def tail_percentile(n: int) -> Optional[int]:
    """The highest whole percentile with at least ``TAIL_MIN_BEYOND``
    samples strictly beyond its nearest rank, or None when ``n`` is
    below ``2 * TAIL_MIN_BEYOND`` (the tail is then omitted, never
    replaced by the maximum)."""
    if n < 2 * TAIL_MIN_BEYOND:
        return None
    for p in range(99, 0, -1):
        if n - math.ceil(p / 100.0 * n) >= TAIL_MIN_BEYOND:
            return p
    return None


def tail(values: Sequence[float]) -> Optional[dict]:
    """``{"value", "percentile", "n"}`` for the honest tail, or None."""
    p = tail_percentile(len(values))
    if p is None:
        return None
    return {"value": nearest_rank(values, p), "percentile": p, "n": len(values)}


def halves(values: Sequence[float]) -> Optional[dict]:
    """Nearest-rank medians of the first and second halves of the
    samples, in order, and the size ``n`` of each half. With an odd
    count the middle sample is left out of both halves."""
    half = len(values) // 2
    if half < 1:
        return None
    return {
        "first": nearest_rank(values[:half], 50),
        "second": nearest_rank(values[len(values) - half:], 50),
        "n": half,
    }


def drift(values: Sequence[float]) -> Optional[float]:
    """Second-half median over first-half median, minus one: how far
    op cost trends within a run. None when a half holds fewer than
    ``DRIFT_MIN_HALF`` samples, where one slow op would read as a
    trend."""
    h = halves(values)
    if h is None or h["n"] < DRIFT_MIN_HALF:
        return None
    return h["second"] / h["first"] - 1.0


def quartile_spread(values: Sequence[float]) -> float:
    """(q3 - q1) / median, with quartiles as ``statistics.quantiles``
    gives them by default: the run-to-run spread of one metric."""
    import statistics

    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def stationary(values: Sequence[float], bound: float) -> bool:
    """True when the run's op cost does not trend by more than
    ``bound`` (a share of the first half's median) in either
    direction."""
    d = drift(values)
    return d is None or abs(d) <= bound
