"""Summary statistics and metric-name rules shared by the runner and its
self-tests."""

from __future__ import annotations

import math
import re
import statistics

METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")
TAIL_MIN_BEYOND = 10


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail_percentile(samples) -> tuple[int, float] | None:
    """Latency at the highest whole percentile that leaves at least
    ``TAIL_MIN_BEYOND`` samples above it (nearest-rank), or None when the
    run has fewer than ``2 * TAIL_MIN_BEYOND`` samples."""
    n = len(samples)
    if n < 2 * TAIL_MIN_BEYOND:
        return None
    pct = (100 * (n - TAIL_MIN_BEYOND)) // n
    rank = max(1, math.ceil(pct * n / 100))
    return pct, float(sorted(samples)[rank - 1])
