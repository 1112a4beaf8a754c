"""Summary statistics with the benchmark's reporting rules."""

from __future__ import annotations

import math
import statistics

# Percentiles considered for the tail, highest first.
TAIL_PERCENTILES = (99, 90, 75)
MIN_BEYOND = 10


def median(values) -> float | None:
    values = list(values)
    return statistics.median(values) if values else None


def geomean(values) -> float | None:
    """Geometric mean of positive values: each value counts equally, so a
    gain of x% on any one of n values moves it by about x/n %."""
    values = list(values)
    return math.exp(sum(map(math.log, values)) / len(values)) if values else None


def percentile(values, p: float) -> tuple[float, int] | None:
    """Nearest-rank ``p``-th percentile and the number of samples beyond it,
    or None when fewer than ``MIN_BEYOND`` samples lie beyond it."""
    xs = sorted(values)
    if not xs:
        return None
    rank = max(1, math.ceil(p / 100 * len(xs)))
    beyond = len(xs) - rank
    if beyond < MIN_BEYOND:
        return None
    return xs[rank - 1], beyond


def tail(values) -> dict | None:
    """The highest percentile in ``TAIL_PERCENTILES`` that has at least
    ``MIN_BEYOND`` samples beyond it, with the sample count."""
    for p in TAIL_PERCENTILES:
        got = percentile(values, p)
        if got is not None:
            return {"p": p, "value": got[0], "beyond": got[1], "n": len(values)}
    return None
