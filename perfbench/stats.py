"""Percentiles for the benchmark's latency figures."""

from __future__ import annotations

import math
import statistics


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated ``p``-th percentile (0-100), as numpy's default."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int, beyond: int = 10) -> int | None:
    """Highest whole percentile with at least ``beyond`` of ``n`` samples above it.

    With 100 samples that is the 90th, with 40 the 75th; ``None`` when
    there are too few samples to leave ``beyond`` above any percentile.
    """
    if n <= beyond:
        return None
    return math.floor(100.0 * (n - beyond) / n)


def summary(values: list[float]) -> dict:
    """Count, median and the tail percentile of a latency sample."""
    p = tail_percentile(len(values))
    return {
        "n": len(values),
        "p50": statistics.median(values) if values else None,
        "tail_pct": p,
        "tail": percentile(values, p) if p is not None else None,
    }
