"""Latency summaries."""

from __future__ import annotations

import math
import statistics


def tail(samples: list[float], beyond: int = 10) -> dict:
    """The highest percentile that has at least ``beyond`` samples
    above it.  With n samples sorted ascending, that is the sample at
    rank n - beyond (1-based): exactly ``beyond`` samples lie above
    it.  The percentile is named by the share of samples at or below
    it, floored to a whole percent.  With ``beyond`` or fewer samples
    no percentile qualifies; the maximum is reported as p100 with
    ``beyond_samples`` 0 and ``qualified`` false."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if n <= beyond:
        return {"value": xs[-1], "percentile": 100, "samples": n,
                "beyond_samples": 0, "qualified": False}
    k = n - beyond
    return {"value": xs[k - 1], "percentile": math.floor(100 * k / n),
            "samples": n, "beyond_samples": beyond, "qualified": True}


def median(samples: list[float]) -> float:
    return statistics.median(samples)

