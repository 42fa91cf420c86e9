"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics

# Candidate tail percentiles, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
# A tail percentile is reported only with at least this many samples above it.
MIN_BEYOND = 10


def nearest_rank(samples: list[float], pct: float) -> tuple[float, int]:
    """Nearest-rank percentile: the value at 1-based rank ceil(pct/100*n),
    and how many samples rank above it."""
    ordered = sorted(samples)
    n = len(ordered)
    # round first: 99.9 / 100 * 10000 is 9990.000000000002 in floating point
    rank = max(1, math.ceil(round(pct * n / 100.0, 9)))
    return ordered[rank - 1], n - rank


def tail(samples: list[float]) -> dict | None:
    """The highest percentile of TAIL_LADDER that leaves at least
    MIN_BEYOND samples beyond it, or None when the sample is too small
    for any of them (fewer than 20 samples)."""
    for pct in TAIL_LADDER:
        if not samples:
            break
        value, beyond = nearest_rank(samples, pct)
        if beyond >= MIN_BEYOND:
            return {"percentile": pct, "value": value, "samples": len(samples)}
    return None


def median(samples: list[float]) -> float:
    return statistics.median(samples) if samples else 0.0
