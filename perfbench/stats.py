"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics

# a tail percentile must have at least this many samples beyond it
TAIL_BEYOND = 10


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def gmean(values: list[float]) -> float:
    return float(statistics.geometric_mean(values))


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> tuple[int, float] | None:
    """The highest whole percentile that still has at least ``beyond``
    samples above it, and its value (nearest-rank). ``None`` when there are
    too few samples for any percentile to qualify.

    With n samples, the p-th percentile by nearest rank is the sample at
    rank ceil(p·n/100); n − rank samples lie beyond it."""
    n = len(values)
    if n <= beyond:
        return None
    ordered = sorted(values)
    best = None
    for p in range(1, 100):
        rank = max(1, math.ceil(p * n / 100))
        if n - rank >= beyond:
            best = (p, ordered[rank - 1])
    return best

