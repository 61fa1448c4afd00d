"""Unit tests for the benchmark's summary statistics (no Spark needed)."""

from __future__ import annotations

import statistics

import pytest

from perfbench import stats


def test_pool_concatenates_every_pass():
    passes = [{"a": 1.0, "b": 2.0}, {"b": 3.0, "a": 4.0}]
    assert sorted(stats.pool(passes)) == [1.0, 2.0, 3.0, 4.0]


def test_nearest_rank():
    xs = [float(i) for i in range(1, 11)]
    assert stats.nearest_rank(xs, 50) == 5.0
    assert stats.nearest_rank(xs, 90) == 9.0
    assert stats.nearest_rank(xs, 91) == 10.0
    assert stats.nearest_rank(xs, 0) == 1.0


def test_tail_leaves_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]
    v, pct, n = stats.tail(xs)
    assert (v, pct, n) == (90.0, 90, 10)


def test_tail_on_small_pool_is_above_median():
    xs = [float(i) for i in range(stats.MIN_SAMPLES)]
    v, pct, n = stats.tail(xs)
    assert n >= stats.TAIL_BEYOND
    assert pct > 50
    assert v >= statistics.median(xs)


def test_tail_counts_ties_as_not_beyond():
    # twelve equal slow samples: none of them is beyond the 90th
    xs = [1.0] * 30 + [5.0] * 12
    v, pct, n = stats.tail(xs)
    assert v == 1.0 and n == 12


def test_tail_rejects_too_few_samples():
    with pytest.raises(ValueError):
        stats.tail([1.0] * 15)


def test_tail_is_order_independent():
    xs = [0.3, 2.0, 1.1, 0.7, 0.9] * 6
    assert stats.tail(xs) == stats.tail(sorted(xs))


def test_drift_flat_rising_and_short():
    assert stats.drift([10.0, 10.0, 10.0]) == 0.0
    assert stats.drift([10.0]) == 0.0
    assert stats.drift([10.0, 11.0, 12.0]) == pytest.approx(1 / 11)
    assert stats.drift([12.0, 11.0, 10.0]) == pytest.approx(-1 / 11)


def test_stopwatch_nets_out_steal(monkeypatch):
    from perfbench import clock

    jiffies = iter([(1000, 50), (1300, 150), (1300, 150)])
    monkeypatch.setattr(clock, "_jiffies", lambda: next(jiffies))
    times = iter([10.0, 12.0])
    monkeypatch.setattr(clock.time, "perf_counter", lambda: next(times))
    watch = clock.Stopwatch()
    assert watch.steal_share() == pytest.approx(0.25)
    assert watch.elapsed() == pytest.approx(2.0 * 0.75)
