"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics

TAIL_SAMPLES = 10  # samples that must lie beyond a reported high percentile


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def tail_percentile(values, want: float = 0.9, beyond: int = TAIL_SAMPLES):
    """The highest percentile up to ``want`` that leaves at least
    ``beyond`` samples above it, and its value.

    With n samples that is ``p = min(want, 1 - beyond / n)``, read as the
    nearest-rank sample ``ceil(p * n)``. Below ``2 * beyond`` samples that
    percentile would fall under the median, so the median is returned
    with ``p = 0.5``."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.5, 0.0
    p = min(want, 1.0 - beyond / n)
    if p < 0.5:
        return 0.5, median(xs)
    rank = max(1, math.ceil(p * n - 1e-9))
    return p, float(xs[rank - 1])
