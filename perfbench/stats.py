"""Summary statistics for benchmark samples."""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10
# Tail percentiles tried, highest first, for the readable summary.
TAIL_PERCENTILES = (99, 95, 90, 75)


class InsufficientSamples(ValueError):
    """A percentile was asked of a sample too small to support it."""


def median(xs) -> float:
    return float(statistics.median(xs))


def mean(xs) -> float:
    return float(statistics.fmean(xs))


def percentile(xs, p: float) -> float:
    """Nearest-rank ``p``-th percentile; refuses unless at least
    ``MIN_BEYOND`` samples lie beyond it."""
    s = sorted(xs)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    if len(s) - rank < MIN_BEYOND:
        raise InsufficientSamples(
            f"p{p:g} of {len(s)} samples has {len(s) - rank} beyond it; "
            f"need {MIN_BEYOND}"
        )
    return float(s[rank - 1])


def highest_supported(xs) -> tuple[float, float] | None:
    """The highest of ``TAIL_PERCENTILES`` the sample supports, with its value."""
    for p in TAIL_PERCENTILES:
        try:
            return p, percentile(xs, p)
        except InsufficientSamples:
            continue
    return None

