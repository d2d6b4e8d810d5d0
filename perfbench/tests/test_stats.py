import math

import pytest

import stats


@pytest.mark.parametrize("n,pct", [(19, None), (20, None), (40, 75.0), (99, 75.0),
                                   (100, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9)])
def test_tail_percentile_leaves_ten_samples_beyond(n, pct):
    assert stats.tail_pct(n) == pct
    if pct is not None:
        assert n - math.ceil(round(pct / 100 * n, 9)) >= stats.MIN_BEYOND


def test_tail_is_the_nearest_rank_value():
    values = list(range(1, 41))
    assert stats.tail(values) == (75.0, 30)
    assert stats.tail(values[:15]) == (None, None)
    assert stats.percentile(values, 50) == 20


def test_slope_per_min():
    assert stats.slope_per_min([(0, 0), (30, 1), (60, 2)]) == pytest.approx(2.0)
    assert stats.slope_per_min([(0, 3)]) == 0.0
