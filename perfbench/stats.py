"""Order statistics for the benchmark's reported numbers."""

from __future__ import annotations

import math

# A percentile is reported only when at least this many samples lie
# beyond it; p90 therefore needs 100 samples and p50 needs 20.
MIN_BEYOND = 10


def percentile(samples: list[float], q: float) -> float | None:
    """The ``q``-th percentile (0 < q < 100) by linear interpolation,
    or ``None`` when fewer than :data:`MIN_BEYOND` samples lie beyond
    it."""
    n = len(samples)
    if n == 0 or n * (100.0 - q) / 100.0 < MIN_BEYOND:
        return None
    xs = sorted(samples)
    pos = (n - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(samples: list[float]) -> float:
    """Plain median; for set-up repeats and per-trigger summaries where
    the sample count is fixed by the benchmark, not by the run."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("median of no samples")
    mid = n // 2
    return xs[mid] if n % 2 else (xs[mid - 1] + xs[mid]) / 2.0
