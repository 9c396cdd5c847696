"""Tests for the benchmark's statistics: ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from stats import (  # noqa: E402
    median_per_kind,
    percentile,
    quartile_spread,
    self_times,
    supported_tail,
)


def test_percentile_interpolates_like_numpy():
    xs = [10.0, 20.0, 30.0, 40.0]
    assert percentile(xs, 0) == 10.0
    assert percentile(xs, 100) == 40.0
    assert percentile(xs, 50) == 25.0
    assert percentile(xs, 90) == pytest.approx(37.0)
    with pytest.raises(ValueError):
        percentile([], 50)


@pytest.mark.parametrize(
    "n, want",
    [
        (10_000, 99.9),  # exactly 10 beyond p99.9
        (9_999, 99.0),
        (1_000, 99.0),  # exactly 10 beyond p99
        (999, 95.0),
        (200, 95.0),
        (199, 90.0),
        (100, 90.0),
        (99, 75.0),
        (40, 75.0),
        (20, 50.0),
        (19, None),
    ],
)
def test_supported_tail_keeps_ten_samples_beyond(n, want):
    assert supported_tail(n) == want
    if want is not None:
        assert n * round((100 - want) * 10) >= 10 * 1000


def test_quartile_spread_matches_statistics_quantiles():
    got = quartile_spread([1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0])
    assert got["median"] == 5.5
    assert got["q1"] == 2.75 and got["q3"] == 8.25
    assert got["spread"] == pytest.approx(5.5 / 5.5)


def _span(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end}


def test_self_time_without_children_is_duration():
    assert self_times([_span(1, None, 0.0, 2.5)]) == {1: 2.5}


def test_self_time_subtracts_overlapping_children_once():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 4.0),
        _span(3, 1, 3.0, 6.0),  # overlaps child 2 on [3, 4]
        _span(4, 1, 5.0, 5.5),  # inside child 3
        _span(5, 1, 8.0, 9.0),
    ]
    got = self_times(spans)
    # children cover [1, 6] and [8, 9]: 6 of the parent's 10 seconds
    assert got[1] == pytest.approx(4.0)
    assert got[2] == pytest.approx(3.0)


def test_self_time_clips_children_to_the_parent():
    spans = [
        _span(1, None, 2.0, 6.0),
        _span(2, 1, 0.0, 3.0),  # starts before the parent
        _span(3, 1, 5.0, 9.0),  # ends after it
    ]
    assert self_times(spans)[1] == pytest.approx(2.0)


def test_self_time_counts_only_direct_children():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 0.0, 5.0),
        _span(3, 2, 1.0, 2.0),
    ]
    got = self_times(spans)
    assert got[1] == pytest.approx(5.0)
    assert got[2] == pytest.approx(4.0)
    assert got[3] == pytest.approx(1.0)


def test_median_per_kind_does_not_jump_between_kinds():
    # 5 fast and 5 slow operations: the overall median falls between the
    # two kinds and moves with one value; the per-kind statistic does not
    fast, slow = [10.0, 11.0, 12.0, 13.0, 14.0], [100.0, 110.0, 120.0, 130.0, 140.0]
    assert median_per_kind({"fast": fast, "slow": slow}) == pytest.approx((12.0 * 120.0) ** 0.5)
    assert median_per_kind({"fast": fast[:-1] + [200.0], "slow": slow}) == pytest.approx(
        (12.0 * 120.0) ** 0.5
    )
    assert percentile(fast + slow, 50) == pytest.approx(57.0)
    assert percentile(fast[:-1] + [200.0] + slow, 50) == pytest.approx(105.0)


def test_median_per_kind_weighs_kinds_alike_and_skips_empty():
    assert median_per_kind({"a": [2.0], "b": [8.0, 8.0, 8.0], "c": []}) == pytest.approx(4.0)
    with pytest.raises(ValueError):
        median_per_kind({"a": []})
