"""Pure summary statistics for the benchmark's latency samples."""

from __future__ import annotations

import math

# candidate tail percentiles, highest first
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_BEYOND = 10


def median(values: list) -> float:
    s = sorted(values)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def tail(values: list, beyond: int = TAIL_BEYOND) -> "tuple[float, float] | None":
    """(percentile, value) for the highest percentile in TAIL_PERCENTILES
    that leaves at least ``beyond`` samples strictly above its nearest
    rank, or None when even the median leaves fewer (under 20 samples)."""
    s = sorted(values)
    n = len(s)
    for q in TAIL_PERCENTILES:
        k = max(1, math.ceil(q / 100.0 * n))
        if n - k >= beyond:
            return q, s[k - 1]
    return None
