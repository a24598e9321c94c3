"""Order statistics for the benchmark report.

Every timing is reported as a median plus the highest percentile that
still has at least ``MIN_TAIL`` samples beyond it, together with the
sample count, so a tail figure is never read off a handful of points.
"""

from __future__ import annotations

import math

MIN_TAIL = 10
# Candidate tail percentiles, highest first.
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0)


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (numpy's default method) of a
    non-empty sequence; ``q`` in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50.0)


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie strictly above the q-th percentile
    rank."""
    return n - math.ceil(n * q / 100.0)


def tail_percentile(n: int, min_tail: int = MIN_TAIL) -> float | None:
    """The highest candidate percentile with at least ``min_tail``
    samples beyond it, or None when the sample is too small for any."""
    for q in TAIL_PERCENTILES:
        if samples_beyond(n, q) >= min_tail:
            return q
    return None


def summarize(values) -> dict:
    """Median, tail percentile (if the sample supports one) and count."""
    xs = list(values)
    out = {"n": len(xs)}
    if not xs:
        return out
    out["p50"] = median(xs)
    q = tail_percentile(len(xs))
    if q is not None:
        out["tail_q"] = q
        out["tail"] = percentile(xs, q)
    return out
