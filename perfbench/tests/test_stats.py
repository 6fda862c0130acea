import pytest

from perfbench import stats


def beyond(values, v):
    return sum(1 for x in values if x > v)


def test_no_tail_percentile_without_ten_samples_beyond():
    assert stats.tail_percentile(0) is None
    assert stats.tail_percentile(10) is None
    assert stats.tail(list(range(10))) is None


@pytest.mark.parametrize("n", [11, 12, 19, 20, 37, 99, 100, 101, 150, 1000])
def test_tail_leaves_at_least_ten_samples_beyond(n):
    values = [float(i) for i in range(n)]
    pct, v = stats.tail(values)
    assert beyond(values, v) >= stats.MIN_BEYOND
    assert pct <= 90.0


def test_tail_is_the_highest_such_percentile():
    # with 30 samples the 20th smallest leaves exactly 10 beyond
    values = [float(i) for i in range(30)]
    pct, v = stats.tail(values)
    assert pct == pytest.approx(100 * 20 / 30)
    assert v == 19.0
    # from 100 samples on, p90 itself qualifies
    pct, v = stats.tail([float(i) for i in range(200)])
    assert (pct, v) == (90.0, 179.0)


def test_quartiles_match_statistics_quantiles():
    q1, q2, q3 = stats.quartiles([1.0, 2.0, 3.0, 4.0, 5.0])
    assert (q1, q2, q3) == (1.5, 3.0, 4.5)
    assert stats.quartiles([7.0]) == (7.0, 7.0, 7.0)
