"""Small statistics helpers shared by the benchmark, its report and the
steadiness tool. Pure Python, no engine imports."""

from __future__ import annotations

import math
import statistics

TAIL_MIN_BEYOND = 10


def percentile(values, p: float) -> float:
    """Nearest-rank percentile (p in (0, 100]) of a non-empty sample."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def tail(values) -> dict:
    """The highest percentile with at least ``TAIL_MIN_BEYOND`` samples
    beyond it: the 11th-largest value, at percentile 100 * (n - 10) / n.
    It moves smoothly with the sample count, so a run that completes a
    few operations more or fewer does not jump to another rung of a
    fixed ladder. With 10 samples or fewer no value qualifies; the median
    is reported with ``enough=False``. Returns {value, pct, n, beyond,
    enough}."""
    n = len(values)
    if n == 0:
        raise ValueError("tail of an empty sample")
    if n > TAIL_MIN_BEYOND:
        rank = n - TAIL_MIN_BEYOND
        return {"value": sorted(values)[rank - 1], "pct": 100.0 * rank / n, "n": n,
                "beyond": TAIL_MIN_BEYOND, "enough": True}
    rank = max(1, math.ceil(0.5 * n))
    return {"value": percentile(values, 50.0), "pct": 50.0, "n": n,
            "beyond": n - rank, "enough": False}


def spread(values) -> dict:
    """Median, quartiles (``statistics.quantiles(n=4)``) and the
    interquartile distance as a share of the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / abs(med) if med else math.inf}
