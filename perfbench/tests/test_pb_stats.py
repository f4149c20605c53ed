import statistics

import pytest

from perfbench.stats import median, percentile, tail_percentile


def test_median_odd_and_even():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 3.0, 2.0]) == 2.5
    assert median([7.5]) == 7.5


def test_percentile_matches_inclusive_quantiles():
    xs = [0.9, 1.4, 1.1, 2.0, 1.7, 1.2, 3.1, 1.05, 1.3, 1.6]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    assert percentile(xs, 25) == pytest.approx(q1)
    assert percentile(xs, 50) == pytest.approx(q2)
    assert percentile(xs, 75) == pytest.approx(q3)
    assert percentile(xs, 0) == min(xs)
    assert percentile(xs, 100) == max(xs)


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 101)


def test_tail_percentile_keeps_ten_samples_beyond():
    assert tail_percentile(5) == 0.0
    assert tail_percentile(10) == 0.0
    assert tail_percentile(20) == 50.0
    assert tail_percentile(100) == 90.0
    # p90 of 100 samples leaves exactly ten above it
    assert 100 - 100 * tail_percentile(100) / 100 >= 10
