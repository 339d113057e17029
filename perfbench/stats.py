"""Summary statistics shared by the workloads."""

from __future__ import annotations

import bisect
import math

# candidate tail percentiles, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    v = sorted(values)
    if not v:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(p / 100.0 * len(v)))
    return v[rank - 1]


def median(values) -> float:
    v = sorted(values)
    if not v:
        raise ValueError("median of no samples")
    n = len(v)
    return v[n // 2] if n % 2 else (v[n // 2 - 1] + v[n // 2]) / 2.0


def tail(values) -> tuple[float, float, int]:
    """The highest percentile of TAIL_LADDER that has at least MIN_BEYOND
    samples strictly above it.  Returns (percentile, value, samples
    beyond); falls back to the maximum when no rung qualifies."""
    v = sorted(values)
    for p in TAIL_LADDER:
        x = percentile(v, p)
        beyond = len(v) - bisect.bisect_right(v, x)
        if beyond >= MIN_BEYOND:
            return p, x, beyond
    return 100.0, v[-1], 0


def best_times(passes: list) -> list:
    """``(family, ms)`` of each query over repeated passes of the same
    queries in the same order: its fastest repeat.  A query that raised in
    every repeat is left out; it is already counted as failed."""
    out = []
    for reps in zip(*passes):
        ms = [x for _, x in reps if x is not None]
        if ms:
            out.append((reps[0][0], min(ms)))
    return out
