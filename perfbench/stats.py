"""The ten-samples-beyond rule for the benchmark's tail latencies.

A tail percentile is only reported when at least ``MIN_BEYOND`` samples lie
strictly beyond its rank; with fewer, one slow sample moves it. Medians and
percentiles themselves come from the standard library's ``statistics``."""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10


def samples_beyond(n: int, p: float) -> int:
    """How many of ``n`` samples lie above the ``p``-th percentile's rank."""
    return n - math.ceil(n * p / 100.0)


def highest_reportable(n: int, candidates=(99, 95, 90, 80, 75, 50)) -> int | None:
    """Highest candidate percentile with ``MIN_BEYOND`` samples beyond it,
    or None when even the median has too few."""
    for p in candidates:
        if samples_beyond(n, p) >= MIN_BEYOND:
            return p
    return None


def summary(values: list[float]) -> dict:
    """Sample count, median and the highest reportable tail, for reports.
    The tail is linear-interpolated (``method="inclusive"``, as numpy's
    default percentile)."""
    out = {"n": len(values)}
    if values:
        out["p50"] = statistics.median(values)
        tail = highest_reportable(len(values))
        if tail is not None and tail > 50:
            out[f"p{tail}"] = statistics.quantiles(values, n=100, method="inclusive")[tail - 1]
    return out
