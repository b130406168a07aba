"""Order statistics with the sample-count rule the benchmark reports by.

A tail percentile (``op_p90_s``) is reported only when at least
:data:`MIN_TAIL` samples lie beyond it, so ``p90`` needs 100 samples.
Medians (``op_p50_s`` and the per-run medians) are not held to that rule:
they are taken over every sample a run has. Every reported timing
carries its sample count.
"""

from __future__ import annotations

import math

MIN_TAIL = 10


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated ``q``-quantile (0 ≤ q ≤ 1) of ``values``."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0.0 <= q <= 1.0:
        raise ValueError(f"quantile {q} outside [0, 1]")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 0.5)


def tail_supported(n: int, q: float) -> bool:
    """True when ``n`` samples leave at least MIN_TAIL above the q-quantile."""
    return n > 0 and math.floor(n * (1.0 - q) + 1e-9) >= MIN_TAIL


def summary(values: list[float], q: float) -> dict:
    """``{"value": ..., "n": ...}`` for the q-quantile, or ``value=None``
    when the samples do not support it."""
    n = len(values)
    value = percentile(values, q) if tail_supported(n, q) else None
    return {"value": value, "n": n}
