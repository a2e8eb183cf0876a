"""Summary statistics used by the benchmark record."""

from __future__ import annotations

import math
import statistics

TAIL_BEYOND = 10
PERCENTILES = (99.9, 99, 95, 90, 75, 50)


def median(values) -> float:
    return float(statistics.median(values))


def tail(values, beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """(value, percentile, samples beyond it) at the highest of
    ``PERCENTILES`` (nearest rank) that has at least ``beyond`` samples
    above it. Below ``2 * beyond`` samples none qualifies: the maximum is
    returned as percentile 100 with 0 samples beyond it."""
    ordered = sorted(values)
    n = len(ordered)
    for pct in PERCENTILES:
        rank = math.ceil(pct / 100 * n)
        if n - rank >= beyond:
            return float(ordered[rank - 1]), float(pct), n - rank
    return float(ordered[-1]), 100.0, 0


def overhead(untraced, traced) -> float:
    """Tracing overhead: median traced operation time over the median
    untraced one, minus one."""
    return median(traced) / median(untraced) - 1
