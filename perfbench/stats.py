"""Order statistics used by the benchmark report."""

from __future__ import annotations

import math
import statistics


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def tail_percentile(values: list[float], beyond: int = 10) -> tuple[int, float] | None:
    """The highest whole percentile that still has ``beyond`` samples
    above it, as ``(percentile, value)``; ``None`` when there are too
    few samples for any percentile above the median to qualify.

    The value is the nearest-rank sample: with ``n`` sorted samples,
    percentile ``p`` is the sample at rank ``ceil(p/100 * n)``, and it
    qualifies when ``n - rank >= beyond``.
    """
    xs = sorted(values)
    n = len(xs)
    for p in range(99, 50, -1):
        rank = max(1, math.ceil(p / 100 * n))
        if n - rank >= beyond:
            return p, float(xs[rank - 1])
    return None
