"""p90 is reported only with at least ten samples beyond it."""

import pytest

import stats


def test_tail_rule_boundary():
    assert not stats.tail_ok(99, 90)
    assert stats.tail_ok(100, 90)
    assert not stats.tail_ok(999, 99)
    assert stats.tail_ok(1000, 99)


def test_percentile_refuses_undersampled_tail():
    with pytest.raises(ValueError):
        stats.percentile(list(range(99)), 90)


def test_percentile_nearest_rank():
    values = list(range(1, 101))
    assert stats.percentile(values, 90) == 90
    assert stats.percentile(list(reversed(values)), 90) == 90
