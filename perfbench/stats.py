"""Order statistics with the sample-count rule the benchmark reports by."""

from __future__ import annotations

import math

MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float | None:
    """Nearest-rank ``q``-quantile (0 < q < 1), or None when fewer than
    ``MIN_BEYOND`` samples lie beyond it: a tail figure resting on a
    handful of samples is not reported, and never extrapolated."""
    n = len(values)
    rank = math.ceil(q * n)
    if n - rank < MIN_BEYOND:
        return None
    return sorted(values)[rank - 1]
