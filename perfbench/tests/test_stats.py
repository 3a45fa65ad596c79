"""The benchmark's own rules: tail percentile, quartile spread, regression
bound. Run with ``python3 -m pytest perfbench/tests -q``."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import stats  # noqa: E402


def test_tail_is_max_below_twenty_samples():
    # 19 samples: even the median leaves only 9 above it
    vals = [float(i) for i in range(1, 20)]
    assert stats.tail(vals) == (19.0, None, 19)


def test_tail_is_median_from_twenty_samples():
    vals = [float(i) for i in range(1, 21)]
    value, pct, n = stats.tail(vals)
    assert (pct, n) == (50.0, 20)
    assert value == 10.0  # nearest rank ceil(0.5 * 20) = 10
    assert sum(v > value for v in vals) == 10


def test_tail_moves_to_p90_at_one_hundred_samples():
    vals = [float(i) for i in range(1, 101)]
    value, pct, _n = stats.tail(vals)
    assert pct == 90.0 and value == 90.0
    assert sum(v > value for v in vals) >= stats.TAIL_MIN_BEYOND


def test_tail_p99_needs_a_thousand_samples():
    assert stats.tail([float(i) for i in range(999)])[1] == 90.0
    assert stats.tail([float(i) for i in range(1000)])[1] == 99.0


def test_tail_of_nothing_raises():
    with pytest.raises(ValueError):
        stats.tail([])


def test_quartile_spread_matches_statistics_quantiles():
    vals = [10.0, 11.0, 9.0, 10.5, 9.5, 10.0, 12.0, 8.0, 10.2, 9.8]
    q1, med, q3 = __import__("statistics").quantiles(vals, n=4)
    assert stats.quartile_spread(vals) == pytest.approx((q3 - q1) / med)


def test_regression_lower_is_better():
    parent = [1.0, 1.0, 1.0]
    assert stats.regression(parent, [1.07, 1.08, 1.09], "lower", 0.1) == (False, pytest.approx(0.08))
    regressed, share = stats.regression(parent, [1.2, 1.2, 1.2], "lower", 0.1)
    assert regressed and share == pytest.approx(0.2)
    # getting faster is never a regression
    assert stats.regression(parent, [0.5] * 3, "lower", 0.1) == (False, pytest.approx(-0.5))


def test_regression_higher_is_better():
    parent = [100.0] * 3
    assert stats.regression(parent, [80.0] * 3, "higher", 0.1)[0]
    assert not stats.regression(parent, [95.0] * 3, "higher", 0.1)[0]
    assert not stats.regression(parent, [150.0] * 3, "higher", 0.1)[0]


def test_regression_rejects_unknown_direction():
    with pytest.raises(ValueError):
        stats.regression([1.0], [1.0], "faster", 0.1)


@pytest.mark.parametrize("name", ["setup_s", "plans.wand.wall_s", "a-b_c.1", "9lives"])
def test_valid_metric_names(name):
    assert stats.valid_metric_name(name)


@pytest.mark.parametrize("name", ["", "_x", ".x", "a b", "a/b", "x" * 65, "p99%"])
def test_invalid_metric_names(name):
    assert not stats.valid_metric_name(name)
