"""Order statistics with the benchmark's sample-count rule.

A tail percentile is reported only when at least `MIN_BEYOND` samples lie
beyond it; with fewer, one stray sample would decide the value.
"""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10


class TooFewSamples(ValueError):
    pass


def rank(n: int, q: float) -> int:
    """Nearest-rank index (0-based) of quantile `q` in `n` sorted samples."""
    return max(0, math.ceil(q * n) - 1)


def beyond(n: int, q: float) -> int:
    """How many of `n` samples lie above the quantile-`q` sample."""
    return n - 1 - rank(n, q)


def min_samples(q: float, min_beyond: int = MIN_BEYOND) -> int:
    """Smallest sample count whose quantile `q` has `min_beyond` above it."""
    n = 1
    while beyond(n, q) < min_beyond:
        n += 1
    return n


def percentile(values: list[float], q: float, min_beyond: int = MIN_BEYOND) -> float:
    """Nearest-rank quantile `q` of `values`; raises `TooFewSamples` when
    fewer than `min_beyond` samples lie beyond it."""
    n = len(values)
    if n == 0 or beyond(n, q) < min_beyond:
        raise TooFewSamples(
            f"p{q * 100:g} of {n} samples has {beyond(n, q) if n else 0} beyond it; "
            f"need {min_beyond} (at least {min_samples(q, min_beyond)} samples)"
        )
    return sorted(values)[rank(n, q)]


def median(values: list[float]) -> float:
    return statistics.median(values)
