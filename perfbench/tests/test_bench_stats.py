"""The p95 rule: a tail percentile needs ten samples beyond it."""

import pytest

import _paths  # noqa: F401

import stats


def test_p95_needs_200_samples():
    assert stats.min_samples(0.95) == 200
    with pytest.raises(stats.TooFewSamples):
        stats.percentile([float(i) for i in range(199)], 0.95)


def test_p95_with_exactly_ten_beyond():
    values = [float(i) for i in range(200)]
    p95 = stats.percentile(values, 0.95)
    assert sum(v > p95 for v in values) == 10
    assert p95 == 189.0


def test_empty_is_rejected():
    with pytest.raises(stats.TooFewSamples):
        stats.percentile([], 0.5)
