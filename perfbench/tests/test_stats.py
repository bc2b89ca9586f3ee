"""Percentile math against the standard library's definitions."""

import statistics

import pytest

from perfbench import stats


@pytest.mark.parametrize("n", [1, 2, 5, 20, 101])
def test_percentile_median_and_bounds(n):
    samples = [((i * 37) % n) * 1.5 + 0.25 for i in range(n)]
    assert stats.percentile(samples, 50) == pytest.approx(statistics.median(samples))
    assert min(samples) <= stats.percentile(samples, 95) <= max(samples)


def test_percentile_interpolates_between_ranks():
    # 11 evenly spaced samples: p95 sits halfway between the top two
    samples = [float(i) for i in range(11)]
    assert stats.percentile(samples, 95) == pytest.approx(9.5)
    assert stats.percentile([3.0, 1.0], 95) == pytest.approx(2.9)


def test_quartile_drift():
    assert stats.quartile_drift([10.0] * 8) == 0.0
    # first quarter median 20, last quarter median 10: got 50 % faster
    assert stats.quartile_drift([20, 20, 15, 15, 12, 12, 10, 10]) == pytest.approx(-0.5)
    # below four samples: first against last sample
    assert stats.quartile_drift([4.0, 9.0, 3.0]) == pytest.approx(-0.25)
    assert stats.quartile_drift([2.0]) is None


def test_summary_tail_needs_ten_samples_beyond():
    assert "p90" not in stats.summary([1.0] * 19)
    s = stats.summary([float(i) for i in range(100)])
    assert s["n"] == 100 and "p90" in s and "p95" not in s
    assert "p95" in stats.summary([1.0] * 200)
