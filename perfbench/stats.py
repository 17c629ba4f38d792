"""Percentiles as the benchmark reports them."""

from __future__ import annotations

import math

#: a percentile is reported only when at least this many samples lie
#: above it, so that it is set by more than a handful of outliers
MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank ``q``-quantile (0 < q < 1) of ``values``."""
    ordered = sorted(values)
    return ordered[max(0, math.ceil(q * len(ordered)) - 1)]


def reportable_percentile(values: list[float], q: float) -> float | None:
    """The ``q``-quantile, or None unless at least ``MIN_BEYOND``
    samples lie strictly above it."""
    if not values:
        return None
    p = percentile(values, q)
    if sum(v > p for v in values) < MIN_BEYOND:
        return None
    return p
