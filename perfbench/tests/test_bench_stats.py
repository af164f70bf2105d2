import statistics

import pytest

import stats


def test_median():
    assert stats.median([3, 1, 2]) == 2
    assert stats.median([4, 1, 3, 2]) == 2.5


def test_no_samples_raise():
    with pytest.raises(ValueError):
        stats.median([])


def test_quartile_spread_uses_statistics_quantiles():
    xs = [1.0, 2.0, 2.5, 3.0, 10.0, 4.0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    assert stats.quartile_spread(xs) == pytest.approx((q3 - q1) / q2)
