"""Percentile and tail-rank arithmetic of the benchmark report."""

import statistics

import pytest

from perfbench import stats


def test_median_of_nothing_is_zero():
    assert stats.median([]) == 0.0


def test_tail_leaves_exactly_ten_samples_above():
    values = [float(i) for i in range(1, 31)]  # 1..30
    value, pct, n = stats.tail(values)
    assert n == 30
    assert value == 20.0  # rank 20: ten samples (21..30) above it
    assert pct == pytest.approx(100 * 20 / 30)
    assert sum(v > value for v in values) == 10


def test_tail_ignores_input_order():
    values = [5.0, 1.0, 4.0] * 10
    assert stats.tail(values) == stats.tail(sorted(values))


def test_tail_needs_twenty_samples_to_leave_the_median():
    values = [float(i) for i in range(19)]
    assert stats.tail(values) == (statistics.median(values), 50.0, 19)
    value, pct, _ = stats.tail([float(i) for i in range(20)])
    assert (value, pct) == (9.0, 50.0)  # rank 10 of 20 — the median rank


def test_tail_of_nothing():
    assert stats.tail([]) == (0.0, 0.0, 0)
