"""Percentiles and the sample counts that back them."""

import pytest

from perfbench import stats


def test_percentile_interpolates_between_order_statistics():
    xs = [10.0, 20.0, 30.0, 40.0]
    assert stats.percentile(xs, 0) == 10.0
    assert stats.percentile(xs, 100) == 40.0
    assert stats.percentile(xs, 50) == 25.0
    assert stats.percentile(xs, 90) == pytest.approx(37.0)


def test_percentile_of_nothing_raises():
    with pytest.raises(ValueError):
        stats.percentile([], 50)


@pytest.mark.parametrize(
    "n, want",
    [(5, None), (19, None), (20, 50), (99, 50), (100, 90), (199, 90), (200, 95), (1000, 99), (10_000, 99.9)],
)
def test_supported_percentile_keeps_ten_samples_beyond(n, want):
    assert stats.supported_percentile(n) == want


def test_summary_reports_count_and_only_supported_tail():
    small = stats.summary([3.0, 1.0, 2.0])
    assert small == {"n": 3, "p50": 2.0}
    big = stats.summary([float(i) for i in range(200)])
    assert big["n"] == 200 and big["q"] == 95
    assert big["p95"] == pytest.approx(stats.percentile(list(range(200)), 95))
