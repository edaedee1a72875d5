"""The tail rule: the highest percentile with at least ten samples beyond."""

import pytest

from stats import nearest_rank, tail


def test_too_few_samples_has_no_tail():
    assert tail([float(i) for i in range(19)]) is None


@pytest.mark.parametrize("n, pct, beyond", [
    (20, 50.0, 10), (39, 50.0, 19), (40, 75.0, 10), (100, 90.0, 10),
    (199, 90.0, 19), (200, 95.0, 10), (1000, 99.0, 10), (10000, 99.9, 10),
])
def test_highest_percentile_with_ten_beyond(n, pct, beyond):
    xs = [float(i) for i in range(1, n + 1)]
    value, got_pct, got_beyond = tail(xs)
    assert (got_pct, got_beyond) == (pct, beyond)
    # nearest rank: exactly `beyond` samples are larger than the value
    assert sum(1 for x in xs if x > value) == beyond


def test_nearest_rank_ignores_order():
    assert nearest_rank([5.0, 1.0, 3.0, 2.0, 4.0], 50) == (3.0, 2)

