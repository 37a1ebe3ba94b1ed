"""Latency summaries: percentiles and the sample-count rule for tails."""

from __future__ import annotations

import math

# a tail percentile is reported only with at least this many samples
# beyond it; fewer makes the figure one or two outliers
MIN_BEYOND = 10
TAIL_CANDIDATES = (99.9, 99.0, 90.0)


def percentile(values: list[float], p: float) -> float:
    """The *p*-th percentile with linear interpolation between closest
    ranks (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n: int, p: float) -> int:
    """How many of *n* samples lie above the *p*-th percentile."""
    return math.floor(n * (100.0 - p) / 100.0 + 1e-9)


def tail(values: list[float]) -> tuple[float, float, int] | None:
    """(p, value, samples beyond it) for the highest of TAIL_CANDIDATES
    that has at least MIN_BEYOND samples beyond it, or None when even
    p90 has too few."""
    for p in TAIL_CANDIDATES:
        beyond = samples_beyond(len(values), p)
        if beyond >= MIN_BEYOND:
            return p, percentile(values, p), beyond
    return None
