"""The percentile rule: a percentile needs ten samples beyond it."""

import pytest

from stats import min_samples, percentile


def test_p90_needs_ten_samples_beyond():
    assert min_samples(90) == 100
    assert percentile(list(range(1, 101)), 90) == 90
    with pytest.raises(ValueError):
        percentile(list(range(1, 100)), 90)


def test_p50_needs_twenty_samples():
    assert min_samples(50) == 20
    assert percentile(list(range(20, 0, -1)), 50) == 10
    with pytest.raises(ValueError):
        percentile(list(range(19)), 50)


def test_rejects_out_of_range_q():
    with pytest.raises(ValueError):
        percentile(list(range(1000)), 100)
