"""The tail-percentile rule and the spread statistics."""

import statistics

import pytest

import stats


@pytest.mark.parametrize(
    "n, pct",
    [(20, 50), (21, 52), (40, 75), (48, 79), (100, 90), (1000, 99)],
)
def test_tail_is_highest_percentile_with_ten_beyond(n, pct):
    samples = [float(i) for i in range(n, 0, -1)]  # unsorted on purpose
    value, got_pct, beyond = stats.tail(samples)
    assert got_pct == pct
    assert beyond >= stats.TAIL_MIN_BEYOND
    assert sum(1 for s in samples if s > value) == beyond
    # one percentile higher would leave fewer than ten samples beyond
    if pct < 99:
        rank = -(-(pct + 1) * n // 100)
        assert n - rank < stats.TAIL_MIN_BEYOND


def test_tail_refuses_too_few_samples():
    with pytest.raises(ValueError):
        stats.tail([1.0] * 19)


def test_tail_is_not_the_median_once_samples_allow():
    samples = [float(i) for i in range(48)]
    value, pct, _ = stats.tail(samples)
    assert pct > 50 and value > stats.median(samples)


def test_spread_matches_statistics_quantiles():
    values = [10.0, 11.0, 9.5, 10.2, 10.8, 9.9, 10.1, 10.4, 10.0, 10.6]
    med, q1, q3, sp = stats.spread(values)
    e1, e2, e3 = statistics.quantiles(values, n=4)
    assert (med, q1, q3) == (e2, e1, e3)
    assert sp == pytest.approx((e3 - e1) / e2)


def test_quarters_show_a_trend():
    first, last = stats.quarters([4.0, 4.0, 3.0, 3.0, 2.0, 2.0, 1.0, 1.0])
    assert (first, last) == (4.0, 1.0)
