"""Percentile and tail-sample math."""

import numpy as np
import pytest

from perfbench.stats import percentile, tail_percentile, weighted_median_mix


@pytest.mark.parametrize("q", [0, 10, 50, 90, 99, 100])
def test_percentile_matches_numpy_linear(q):
    xs = list(np.random.default_rng(0).exponential(size=37))
    assert percentile(xs, q) == pytest.approx(np.percentile(xs, q))


def test_percentile_rejects_empty_and_out_of_range():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 101)


def test_tail_percentile_leaves_ten_samples_beyond():
    assert tail_percentile(100) == 90.0
    assert tail_percentile(10) is None
    for n in range(11, 400):
        q = tail_percentile(n)
        xs = list(range(n))
        assert sum(x > percentile(xs, q) for x in xs) >= 10
        if q < 99:
            assert sum(x > percentile(xs, q + 1) for x in xs) < 10


def test_weighted_median_mix_weights_kind_medians():
    samples = {"a": [1.0, 2.0, 30.0], "b": [10.0]}
    assert weighted_median_mix(samples, {"a": 0.5, "b": 0.5}) == pytest.approx(6.0)
    # a kind with no samples drops out and the rest renormalise
    assert weighted_median_mix(samples, {"a": 0.5, "c": 0.5}) == pytest.approx(2.0)
    with pytest.raises(ValueError):
        weighted_median_mix({}, {"a": 1.0})
