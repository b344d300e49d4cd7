import statistics

import pytest

from stats import mix_latency, percentile, quartiles, supported_percentile


@pytest.mark.parametrize(
    "n, p",
    [(0, None), (19, None), (20, 50), (39, 50), (40, 75), (99, 75), (100, 90),
     (199, 90), (200, 95), (999, 95), (1000, 99)],
)
def test_supported_percentile_needs_ten_samples_beyond(n, p):
    assert supported_percentile(n) == p


def test_percentile_interpolates_like_numpy():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert percentile(xs, 50) == 3.0
    assert percentile(xs, 90) == pytest.approx(4.6)
    assert percentile(xs, 0) == 1.0 and percentile(xs, 100) == 5.0


def test_quartiles_follow_statistics_quantiles():
    xs = [10.0, 11.0, 9.0, 10.5, 12.0, 9.5, 10.2, 10.1, 9.9, 10.3]
    assert quartiles(xs) == tuple(statistics.quantiles(xs, n=4))


def test_mix_latency_weighs_each_class_once_by_its_median():
    one_cycle = [("a", 1.0), ("b", 4.0)]
    geo, rate = mix_latency(one_cycle)
    assert geo == pytest.approx(2.0) and rate == pytest.approx(2 / 5)
    # more samples of one class, and an outlier, leave the mix as it was
    more = one_cycle + [("a", 1.0), ("a", 50.0), ("b", 4.0)]
    assert mix_latency(more) == pytest.approx((geo, rate))
