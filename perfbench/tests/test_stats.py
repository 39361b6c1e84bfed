import statistics

import pytest

from perfbench.stats import mean, median, quartile_spread


def test_median_odd_and_even():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 2.0, 3.0]) == 2.5


def test_median_rejects_empty():
    with pytest.raises(ValueError):
        median([])


def test_quartile_spread_uses_statistics_quantiles():
    vals = [10.0, 11.0, 9.0, 10.5, 9.5, 12.0, 8.0, 10.2, 9.8, 10.1]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    assert quartile_spread(vals) == pytest.approx((q3 - q1) / q2)


def test_quartile_spread_of_constant_values_is_zero():
    assert quartile_spread([5.0] * 10) == 0.0


def test_quartile_spread_rejects_degenerate_input():
    with pytest.raises(ValueError):
        quartile_spread([1.0])
    with pytest.raises(ValueError):
        quartile_spread([0.0, 0.0, 0.0])


def test_mean():
    assert mean([1.0, 2.0, 6.0]) == 3.0
    with pytest.raises(ValueError):
        mean([])
