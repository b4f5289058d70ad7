"""Percentiles that refuse to report a tail the sample cannot support."""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10


class TooFewSamples(ValueError):
    pass


def percentile(values, p: float) -> float:
    """Nearest-rank ``p`` percentile (0 < p < 1) of ``values``.

    Raises ``TooFewSamples`` unless at least ``MIN_BEYOND`` samples lie
    beyond the rank, so a p90 needs 100 samples and a p99 needs 1000."""
    xs = sorted(values)
    n = len(xs)
    rank = math.ceil(p * n)
    if n - rank < MIN_BEYOND:
        raise TooFewSamples(
            f"p{p * 100:g} of {n} samples has {max(n - rank, 0)} beyond it; "
            f"needs {MIN_BEYOND}"
        )
    return float(xs[rank - 1])


def median(values) -> float:
    """The median, or 0 for no values (a layer the workload does not use)."""
    return float(statistics.median(values)) if len(values) else 0.0
