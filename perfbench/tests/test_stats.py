"""The percentile rule behind ``op_tail_s``, at small sample counts."""

import pytest

import stats


def test_tail_leaves_exactly_ten_beyond():
    values = [float(i) for i in range(1, 101)]
    value, pct = stats.tail(values)
    assert value == 90.0
    assert pct == 90.0
    assert sum(v > value for v in values) == 10


@pytest.mark.parametrize("n", [11, 12, 20, 22, 37])
def test_tail_at_small_counts(n):
    values = [float(i) for i in range(n, 0, -1)]  # unsorted input
    value, pct = stats.tail(values)
    assert value == float(n - 10)
    assert pct == pytest.approx(100.0 * (n - 10) / n)
    assert sum(v > value for v in values) == 10


def test_eleven_samples_give_the_minimum():
    value, pct = stats.tail([5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 11.0])
    assert (value, round(pct, 2)) == (1.0, 9.09)


@pytest.mark.parametrize("n", [0, 1, 10])
def test_no_tail_without_enough_samples(n):
    with pytest.raises(ValueError):
        stats.tail([1.0] * n)


def test_tail_with_ties():
    values = [1.0] * 5 + [2.0] * 20
    value, _ = stats.tail(values)
    assert value == 2.0


def test_union_length_merges_overlaps():
    assert stats.union_length([]) == 0.0
    assert stats.union_length([(0, 1), (0.5, 2), (3, 4)]) == 3.0
    assert stats.union_length([(3, 4), (0, 10)]) == 10.0
