import pytest

from perfbench.stats import MIN_BEYOND, median, percentile


def test_median_odd_even():
    assert median([3, 1, 2]) == 2
    assert median([4, 1, 3, 2]) == 2.5
    with pytest.raises(ValueError):
        median([])


def test_percentile_needs_ten_samples_beyond_it():
    xs = list(range(1, 101))  # p90 has exactly 10 samples above it
    assert percentile(xs, 90) == 90
    assert percentile(xs[:99], 90) is None  # only 9 beyond
    assert percentile(xs, 95) is None
    assert percentile(list(range(20)), 50) == 9
    assert percentile(list(range(19)), 50) is None


def test_percentile_rejects_out_of_range():
    with pytest.raises(ValueError):
        percentile([1, 2, 3], 100)


def test_percentile_boundary_follows_min_beyond():
    n = 4 * MIN_BEYOND  # p75 keeps exactly MIN_BEYOND samples above it
    assert percentile(list(range(n)), 75) == 3 * MIN_BEYOND - 1
    assert percentile(list(range(n - 1)), 75) is None
