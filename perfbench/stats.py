"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics
from collections import defaultdict


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def gmean(values) -> float:
    values = list(values)
    return math.exp(sum(math.log(v) for v in values) / len(values))


def op_medians(names: list[str], values: list[float]) -> dict[str, float]:
    """Median latency of each op, from parallel lists of names and values."""
    by: dict[str, list[float]] = defaultdict(list)
    for name, v in zip(names, values):
        by[name].append(v)
    return {name: median(vs) for name, vs in by.items()}


def tail(values: list[float]) -> tuple[float, float, int]:
    """Latency at the highest percentile that has at least 10 samples
    beyond it: the (n-10)-th smallest of n samples, which is percentile
    100*(n-10)/n by the nearest-rank rule. Returns ``(value, percentile,
    sample_count)``. Below 20 samples that percentile would fall under the
    median, so the median is reported, as percentile 50."""
    xs = sorted(values)
    n = len(xs)
    if n < 20:
        return median(xs), 50.0, n
    return float(xs[n - 11]), 100.0 * (n - 10) / n, n
