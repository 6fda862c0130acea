"""Order statistics used by the benchmark and its compare script."""

from __future__ import annotations

import math
import statistics

#: a tail percentile is reported only when this many samples lie beyond it
MIN_BEYOND = 10


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(Q1, median, Q3) as ``statistics.quantiles(values, n=4)`` gives them;
    a single value is its own quartiles."""
    if len(values) == 1:
        v = float(values[0])
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def tail_percentile(n: int, want: float = 90.0) -> float | None:
    """The highest percentile, at most ``want``, that leaves at least
    ``MIN_BEYOND`` of ``n`` samples strictly beyond it, or ``None`` when
    ``n`` is too small for any (``n <= MIN_BEYOND``)."""
    if n <= MIN_BEYOND:
        return None
    return min(want, 100.0 * (n - MIN_BEYOND) / n)


def percentile_value(values: list[float], pct: float) -> float:
    """Nearest-rank value at ``pct``: the ``ceil(pct/100 · n)``-th smallest,
    so ``n - rank`` samples lie beyond it."""
    s = sorted(values)
    rank = math.ceil(round(pct * len(s) / 100, 9))
    return float(s[min(max(rank, 1), len(s)) - 1])


def tail(values: list[float], want: float = 90.0) -> tuple[float, float] | None:
    """(percentile, value) of the reportable tail, or ``None``."""
    pct = tail_percentile(len(values), want)
    if pct is None:
        return None
    return pct, percentile_value(values, pct)
