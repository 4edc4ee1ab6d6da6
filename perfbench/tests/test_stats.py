"""Tests of the benchmark's own statistics: ``python3 -m pytest perfbench/tests``."""

import os
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


def test_tail_leaves_exactly_ten_samples_beyond():
    xs = [float(v) for v in range(30, 0, -1)]  # 30 distinct samples, unsorted
    p, value, beyond = stats.tail(xs)
    assert beyond == stats.TAIL_BEYOND == 10
    assert sum(1 for x in xs if x > value) == 10
    assert value == 20.0
    assert p == pytest.approx(100 * 20 / 30)


def test_tail_is_the_highest_such_percentile():
    xs = [float(v) for v in range(1, 41)]
    p, value, _ = stats.tail(xs)
    # one rank higher would leave only nine samples beyond
    assert p == 75.0 and value == 30.0
    assert sum(1 for x in xs if x > 31.0) == 9


def test_tail_needs_more_samples_than_it_leaves_beyond():
    assert stats.tail([float(v) for v in range(11)])[1] == 0.0
    with pytest.raises(ValueError):
        stats.tail([1.0] * 10)


def test_median_and_quartiles_match_statistics_module():
    xs = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0, 5.0, 3.0]
    assert stats.median(xs) == statistics.median(xs) == 3.5
    q1, q2, q3 = stats.quartiles(xs)
    assert [q1, q2, q3] == statistics.quantiles(xs, n=4)
    assert q2 == 3.5
    assert stats.spread(xs) == pytest.approx((q3 - q1) / q2)
    with pytest.raises(ValueError):
        stats.median([])


def test_growth_ratio_bases_skip_the_first_operation():
    ratio, first, last = stats.growth_ratio([100.0, 1.0, 1.0, 2.0, 2.0])
    assert (first, last, ratio) == (1.0, 2.0, 2.0)
    # an odd middle operation belongs to neither half
    ratio, first, last = stats.growth_ratio([9.0, 1.0, 50.0, 3.0])
    assert (first, last, ratio) == (1.0, 3.0, 3.0)
    with pytest.raises(ValueError):
        stats.growth_ratio([1.0, 2.0])


def test_two_sets_agree_within_bound():
    first = [1.0, 1.0, 1.0]
    assert stats.agree(first, [1.1, 1.1, 1.1], "lower", 0.15)
    assert not stats.agree(first, [1.2, 1.2, 1.2], "lower", 0.15)
    assert stats.agree(first, [0.5, 0.5, 0.5], "lower", 0.0)  # better always agrees
    assert stats.agree(first, [0.9, 0.9, 0.9], "higher", 0.15)
    assert not stats.agree(first, [0.8, 0.8, 0.8], "higher", 0.15)
    assert stats.worse_by(2.0, 2.5, "lower") == 0.25
    assert stats.worse_by(2.0, 1.5, "higher") == 0.25
    with pytest.raises(ValueError):
        stats.worse_by(1.0, 1.0, "faster")
