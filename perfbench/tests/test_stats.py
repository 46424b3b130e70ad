"""The query_tail_s percentile rule: the highest ladder percentile with
at least ten samples beyond it."""

import pytest

from stats import percentile, quartiles, tail, tail_percentile


@pytest.mark.parametrize(
    "n, expected",
    [(19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0), (100, 90.0),
     (199, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9)],
)
def test_tail_percentile_needs_ten_samples_beyond(n, expected):
    assert tail_percentile(n) == expected


def test_tail_value_and_record():
    xs = list(range(1, 41))  # 40 samples: p75 is the 30th value
    assert tail(xs) == (30, 75.0, 40)
    assert tail([3, 1, 2]) == (3, 100.0, 3)  # too few: the maximum


def test_percentile_is_nearest_rank():
    xs = [5, 1, 4, 2, 3]
    assert percentile(xs, 50) == 3
    assert percentile(xs, 100) == 5
    assert percentile(xs, 1) == 1


def test_quartiles():
    assert quartiles([1, 2, 3, 4, 5]) == (2, 3, 4)
    assert quartiles([7]) == (7, 7, 7)
