"""Small, dependency-free summary helpers shared by the workloads."""

from __future__ import annotations

import math
import statistics


def median(values) -> float:
    vals = [float(v) for v in values]
    if not vals:
        raise ValueError("median of an empty sequence")
    return float(statistics.median(vals))


def geomean(values) -> float:
    vals = [float(v) for v in values]
    if not vals:
        raise ValueError("geomean of an empty sequence")
    if any(v <= 0 for v in vals):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in vals) / len(vals))
