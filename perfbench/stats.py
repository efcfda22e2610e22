"""Percentiles and window-latency arithmetic, kept free of Spark so the
tests can drive them with synthetic schedules."""

from __future__ import annotations

import math
from collections.abc import Iterable, Sequence


def quantile(values: Iterable[float], q: float) -> float:
    """Linear-interpolated quantile (numpy's default method); ``q`` in
    [0, 1]. Raises on an empty input: a metric with no samples is a
    failed run, never a zero."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of no samples")
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: Iterable[float]) -> float:
    return quantile(values, 0.5)


def window_latencies_ms(
    calls: Iterable[int], due: float, call_done: Sequence[float]
) -> list[float]:
    """Latency of each window, given as the sink call that wrote it:
    that call's completion time minus the time the window's rows were
    due (epoch seconds), in ms."""
    return [(call_done[c] - due) * 1000.0 for c in calls]
