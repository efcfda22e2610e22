"""Percentile and open-loop latency arithmetic on synthetic schedules."""

import statistics

import pytest

from perfbench import stats


def test_quantile_interpolates_like_numpy():
    xs = [5, 1, 4, 2, 3]
    assert stats.quantile(xs, 0.5) == 3
    assert stats.quantile(xs, 0.9) == pytest.approx(4.6)
    assert stats.quantile(xs, 0.0) == 1 and stats.quantile(xs, 1.0) == 5
    assert stats.quantile(range(1, 11), 0.5) == statistics.median(range(1, 11))
    with pytest.raises(ValueError):
        stats.quantile([], 0.5)


def test_window_latency_runs_from_due_time_to_sink_completion():
    # a backlog due at t=100; three sink calls complete at 100.5, 101, 101.7
    done = [100.5, 101.0, 101.7]
    calls = [0, 0, 1, 2, 2, 2]  # the call that wrote each window
    lat = stats.window_latencies_ms(calls, 100.0, done)
    assert lat == pytest.approx([500.0, 500.0, 1000.0, 1700.0, 1700.0, 1700.0])
    assert stats.quantile(lat, 0.5) == pytest.approx(1350.0)
    assert stats.quantile(lat, 0.9) == pytest.approx(1700.0)
