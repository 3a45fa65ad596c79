"""Pure statistics helpers shared by the benchmark and its checker.

Nothing here touches Spark, so the rules can be tested in isolation
(``perfbench/tests/test_stats.py``).
"""

from __future__ import annotations

import math
import re
import statistics

METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

# A tail percentile must leave at least this many samples above it.
TAIL_MIN_BEYOND = 10


def valid_metric_name(name: str) -> bool:
    return bool(METRIC_NAME.fullmatch(name))


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile, ``q`` in (0, 100]."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(xs)))
    return xs[rank - 1]


def tail(values: list[float]) -> tuple[float, float | None, int]:
    """The highest percentile with at least ``TAIL_MIN_BEYOND`` samples
    beyond it, as ``(value, percentile, n_samples)``.

    Candidate percentiles are 50, 90, 99, 99.9, ... With fewer than
    ``2 * TAIL_MIN_BEYOND`` samples not even the median leaves ten samples
    above it; the maximum is then returned with percentile ``None`` so the
    caller labels it as a maximum, not as a percentile.
    """
    n = len(values)
    if n == 0:
        raise ValueError("tail of no samples")
    best = None
    for q in (50.0, 90.0, 99.0, 99.9, 99.99):
        rank = max(1, math.ceil(q / 100.0 * n))
        if n - rank >= TAIL_MIN_BEYOND:
            best = q
    if best is None:
        return max(values), None, n
    return percentile(values, best), best, n


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with quartiles as ``statistics.quantiles(n=4)``
    gives them."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    if med == 0:
        return math.inf
    return (q3 - q1) / abs(med)


def regression(
    parent: list[float], change: list[float], better: str, bound: float
) -> tuple[bool, float]:
    """Is ``change`` worse than ``parent`` by more than ``bound``?

    Returns ``(regressed, worsening)`` where ``worsening`` is the change's
    median moved in the bad direction, as a share of the parent's median
    (negative when the change is better)."""
    if better not in ("lower", "higher"):
        raise ValueError(f"better must be 'lower' or 'higher', not {better!r}")
    p = statistics.median(parent)
    c = statistics.median(change)
    if p == 0:
        raise ValueError("parent median is 0; the share is undefined")
    worsening = (c - p) / abs(p) if better == "lower" else (p - c) / abs(p)
    return worsening > bound, worsening
