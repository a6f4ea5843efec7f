"""Summary statistics with the sample-count rule.

A percentile is reported only when at least ``MIN_BEYOND`` samples lie
beyond it, and every reported percentile carries its sample count, so
a tail figure never rests on one or two observations.
"""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10


def supported(p: float, n: int) -> bool:
    """True when ``n`` samples put at least MIN_BEYOND beyond the
    ``p``-th percentile (``0 < p < 100``)."""
    return math.floor(n * (1.0 - p / 100.0)) >= MIN_BEYOND


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (the 'inclusive' method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def summarize(values: list[float], ps: tuple[float, ...] = (50, 75)) -> dict:
    """``{"n": n, "p50": ..., "p75": ...}`` with each percentile present
    only when the sample count supports it."""
    out: dict = {"n": len(values)}
    for p in ps:
        if supported(p, len(values)):
            out[f"p{p:g}"] = percentile(values, p)
    return out


def median(values: list[float]) -> float:
    return statistics.median(values)


def fmt_mean(values: list[float]) -> str:
    return f"{statistics.fmean(values):.4f}" if values else "n/a"
