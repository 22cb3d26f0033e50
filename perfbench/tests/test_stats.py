import statistics

import pytest

from perfbench.stats import median, quarter_medians, quartiles, ratio, relative_iqr


def test_median_odd_and_even():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 2.0, 3.0]) == 2.5
    with pytest.raises(ValueError):
        median([])


def test_quartiles_match_statistics_quantiles():
    values = [1.2, 0.9, 1.5, 1.1, 1.0, 1.3, 0.95, 1.05, 1.25, 1.4]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    assert quartiles(values) == (q1, q2, q3)
    assert relative_iqr(values) == pytest.approx((q3 - q1) / q2)


def test_quartiles_of_one_value():
    assert quartiles([2.0]) == (2.0, 2.0, 2.0)
    assert relative_iqr([2.0]) == 0.0


def test_ratio_carries_its_base():
    r = ratio(568, 168)
    assert r == {"value": 568 / 168, "num": 568, "den": 168}
    with pytest.raises(ValueError):
        ratio(1, 0)


def test_quarter_medians():
    walls = [8.0, 6.0, 5.0, 5.0, 4.0, 4.0, 3.0, 3.0]
    assert quarter_medians(walls) == (7.0, 3.0)
    assert quarter_medians([5.0, 1.0]) == (5.0, 1.0)
