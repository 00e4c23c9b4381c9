"""Small numeric and naming helpers shared by the benchmark."""

from __future__ import annotations

import math
import re

# Metric and workload names: a letter or digit first, then at most 63
# more letters, digits, '_', '.' or '-'.
NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def valid_name(name: str) -> bool:
    return NAME_RE.fullmatch(name) is not None


def valid_unit(unit: str) -> bool:
    return UNIT_RE.fullmatch(unit) is not None


def percentile(values, q: float) -> float:
    """Nearest-rank percentile: the ceil(q*n)-th smallest value.

    ``q`` is a fraction in (0, 1]; an empty input gives 0.0 so that a
    layer that never ran reports zero rather than failing the run.
    """
    vals = sorted(values)
    if not vals:
        return 0.0
    rank = math.ceil(q * len(vals))
    return float(vals[max(0, min(len(vals) - 1, rank - 1))])


def median(values) -> float:
    return percentile(values, 0.5)


def medians_by_name(samples) -> dict[str, float]:
    """Median of each name's values; ``samples`` holds (name, value)
    pairs."""
    by_name: dict[str, list[float]] = {}
    for name, value in samples:
        by_name.setdefault(name, []).append(value)
    return {name: median(values) for name, values in by_name.items()}


def sum_of_medians(samples) -> float:
    """Sum over names of the median of each name's values: a pass
    assembled from every query's median execution. ``samples`` holds
    (name, value) pairs; one slow execution of a query moves it less
    than it moves the wall of the pass it fell in."""
    return sum(medians_by_name(samples).values())


def geometric_mean_of_medians(samples) -> float:
    """Geometric mean over names of each name's median: the typical
    latency of a mix of queries whose medians differ several-fold,
    without the jump a pooled median makes from one query's cluster of
    values to the next."""
    meds = [m for m in medians_by_name(samples).values() if m > 0]
    if not meds:
        return 0.0
    return math.exp(sum(math.log(m) for m in meds) / len(meds))
