"""Order statistics used by the benchmark.

A tail percentile is only reported when the run holds enough samples
to back it: at least ``BEYOND`` samples must lie above the rank it
names (``supported``).  ``percentile`` is the nearest-rank definition,
so every reported value is one that was actually measured.
"""

from __future__ import annotations

import math

BEYOND = 10


def percentile(samples: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not samples:
        raise ValueError("percentile of no samples")
    if not 0 < p <= 100:
        raise ValueError(f"percentile {p} outside (0, 100]")
    xs = sorted(samples)
    rank = max(1, math.ceil(p / 100 * len(xs)))
    return xs[rank - 1]


def beyond(n: int, p: float) -> int:
    """Number of samples ranked above the p-th percentile of n samples."""
    return n - max(1, math.ceil(p / 100 * n))


def supported(n: int, p: float, need: int = BEYOND) -> bool:
    """True when the p-th percentile of n samples has >= ``need``
    samples beyond it."""
    return n > 0 and beyond(n, p) >= need


def highest_supported(
    n: int, ladder: tuple[float, ...] = (50, 75, 90, 95, 99, 99.9), need: int = BEYOND
) -> float | None:
    """Highest percentile of ``ladder`` that n samples support, or None."""
    ok = [p for p in ladder if supported(n, p, need)]
    return max(ok) if ok else None
