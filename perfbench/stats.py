"""Summary statistics the benchmark reports: median and a tail percentile
chosen by sample count."""

from __future__ import annotations

import math
import statistics

# Percentiles considered for the tail, lowest first.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
TAIL_MIN_BEYOND = 10


def nearest_rank(samples: list[float], p: float) -> tuple[float, int]:
    """The ``p``-th percentile by nearest rank and how many samples rank
    above it."""
    if not samples:
        raise ValueError("no samples")
    ordered = sorted(samples)
    rank = max(1, math.ceil(p * len(ordered) / 100.0 - 1e-9))
    return ordered[rank - 1], len(ordered) - rank


def tail(samples: list[float]) -> tuple[float, float, int, bool]:
    """The highest percentile of ``TAIL_LADDER`` with at least ten samples
    ranked above it: ``(p, value, beyond, qualified)``.

    With fewer than 20 samples no ladder percentile qualifies; the
    median (as ``median`` gives it) is returned with ``qualified`` False,
    so the caller prints that the tail is not resolved at this sample
    count."""
    best = None
    for p in TAIL_LADDER:
        value, beyond = nearest_rank(samples, p)
        if beyond >= TAIL_MIN_BEYOND:
            best = (p, value, beyond, True)
    if best is None:
        value = median(samples)
        best = (50.0, value, sum(1 for s in samples if s > value), False)
    return best


def median(samples: list[float]) -> float:
    return statistics.median(samples)
