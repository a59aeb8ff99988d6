"""Percentiles and the rule for when a percentile may be reported."""

from __future__ import annotations

import numpy as np
import pytest

from perfbench import stats


@pytest.mark.parametrize("q", [0, 10, 50, 90, 99, 100])
def test_percentile_matches_numpy(q):
    xs = list(np.random.default_rng(0).exponential(1.0, 37))
    assert stats.percentile(xs, q) == pytest.approx(float(np.percentile(xs, q)))


def test_median_of_even_count_interpolates():
    assert stats.median([4.0, 1.0, 3.0, 2.0]) == 2.5


def test_p90_needs_one_hundred_samples():
    assert stats.tail_samples(100, 90) == 10
    assert stats.reportable(100, 90)
    assert not stats.reportable(99, 90)
    assert stats.reportable(20, 50)
    assert not stats.reportable(19, 50)
    assert not stats.reportable(999, 99)
    assert stats.reportable(1000, 99)


def test_percentile_of_nothing_raises():
    with pytest.raises(ValueError):
        stats.percentile([], 50)
