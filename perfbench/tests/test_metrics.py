"""Metric math of the benchmark, without Spark.

Run: python3 -m pytest perfbench/tests -q
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from metrics import (fail_ratio, percentile, round_total,  # noqa: E402
                     self_times, space_amp, unstolen)


# ---------------------------------------------------------------- percentiles
def test_percentile_needs_ten_samples_beyond():
    xs = list(range(1, 101))
    assert percentile(xs, 90) == pytest.approx(90.1)   # 10 beyond of 100
    assert percentile(xs[:99], 90) is None             # 9.9 beyond
    assert percentile(list(range(50)), 80) is not None  # exactly 10 beyond
    assert percentile(list(range(49)), 80) is None
    assert percentile(list(range(20)), 50) == pytest.approx(9.5)
    assert percentile(list(range(19)), 50) is None
    assert percentile([], 50) is None


def test_percentile_interpolates_and_ignores_order():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0] * 10
    assert percentile(xs, 50) == 3.0
    assert percentile(sorted(xs), 80) == percentile(xs, 80)


# ---------------------------------------------------------------- fail_ratio
def test_fail_ratio_counts_raised_and_wrong():
    assert fail_ratio(100, 0, 0) == 0.0
    assert fail_ratio(100, 2, 3) == 0.05
    assert fail_ratio(4, 4, 0) == 1.0


@pytest.mark.parametrize("args", [(0, 0, 0), (10, -1, 0), (10, 6, 5)])
def test_fail_ratio_rejects_impossible_counts(args):
    with pytest.raises(ValueError):
        fail_ratio(*args)


# ---------------------------------------------------------------- self time
def _span(i, parent, layer, start, end):
    return {"id": i, "parent": parent, "layer": layer, "start": start,
            "end": end}


def test_self_time_subtracts_direct_children_only():
    spans = [
        _span(0, None, "client", 0.0, 10.0),
        _span(1, 0, "database", 1.0, 7.0),
        _span(2, 1, "velesql", 2.0, 4.0),      # inside database
        _span(3, 2, "velesql", 2.5, 3.0),      # parse inside translate
        _span(4, 0, "operators", 7.0, 9.5),
    ]
    st = self_times(spans)
    assert st["client"] == pytest.approx(10.0 - 6.0 - 2.5)
    assert st["database"] == pytest.approx(6.0 - 2.0)
    assert st["velesql"] == pytest.approx((2.0 - 0.5) + 0.5)
    assert st["operators"] == pytest.approx(2.5)
    # self times of a nested tree add up to the root's duration
    assert sum(st.values()) == pytest.approx(10.0)


def test_self_time_clips_children_to_parent():
    spans = [_span(0, None, "database", 0.0, 1.0),
             _span(1, 0, "storage", 0.5, 2.0)]
    st = self_times(spans)
    assert st["database"] == pytest.approx(0.5)
    assert st["storage"] == pytest.approx(1.5)


# ---------------------------------------------------------------- others
def test_space_amp():
    assert space_amp(300, 100) == 3.0
    assert space_amp(100, 100) == 1.0
    with pytest.raises(ValueError):
        space_amp(100, 0)


def test_round_total_sums_kind_medians():
    assert round_total({"knn": [1.0, 3.0, 2.0], "text": [10.0],
                        "none": []}) == 12.0


def test_unstolen_takes_out_the_stolen_share():
    assert unstolen(1.0, 2.0, 0.0) == 1.0              # nothing stolen
    assert unstolen(1.0, 1.5, 0.5) == pytest.approx(0.75)
    assert unstolen(0.4, 0.0, 0.3) == 0.4              # no CPU ticks seen
    # waiting that is not steal (one busy core out of four) is kept
    assert unstolen(2.0, 0.5, 0.0) == 2.0
    with pytest.raises(ValueError):
        unstolen(1.0, -0.1, 0.0)
