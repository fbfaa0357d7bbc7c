"""Order statistics with the sample counts that back them."""

from __future__ import annotations

import math
import statistics


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated q-th percentile (0 <= q <= 100)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def supported_percentile(n: int, tail: int = 10) -> int | None:
    """Highest of p50/p90/p95/p99/p99.9 that has at least ``tail`` of
    ``n`` samples beyond it, or None when even the median has fewer."""
    best = None
    for q in (50, 90, 95, 99, 99.9):
        if n * (100 - q) / 100.0 >= tail - 1e-9:
            best = q
    return best


def summary(values: list[float]) -> dict:
    """Median, the highest supported percentile and the sample count."""
    n = len(values)
    out = {"n": n, "p50": statistics.median(values) if n else None}
    q = supported_percentile(n)
    if q is not None and q != 50:
        out["q"] = q
        out[f"p{q:g}"] = percentile(values, q)
    return out
