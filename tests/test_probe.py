"""tools/probe.py's protocol helpers: the true median, the spread
predicate at its threshold, and the A/B side order and verdict. No
Spark needed."""

from __future__ import annotations

import os
import sys

sys.path.insert(
    0,
    os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tools"),
)

from probe import ab_order, ab_verdict, iqr, median, spread_exceeds


def test_median_odd_count_is_the_middle_run():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([5.0]) == 5.0


def test_median_even_count_is_the_mean_of_the_middle_runs():
    # the lower middle (here the min) is not the median
    assert median([2.0, 1.0]) == 1.5
    assert median([4.0, 1.0, 3.0, 2.0]) == 2.5


def test_spread_exceeds_at_the_threshold():
    assert not spread_exceeds([2.0, 3.0], 1.5)  # exactly 1.5
    # 0.033 / 0.022 evaluates to 1.5000000000000002: still not above 1.5
    assert not spread_exceeds([0.022, 0.033], 1.5)
    assert spread_exceeds([2.0, 3.001], 1.5)
    assert not spread_exceeds([1.0, 1.0], 1.5)


def test_ab_order_alternates_which_side_runs_first():
    order = ab_order(4)
    assert order == [
        ("before", "after"),
        ("after", "before"),
        ("before", "after"),
        ("after", "before"),
    ]
    assert sum(o[0] == "before" for o in ab_order(10)) == 5


def test_ab_verdict_counts_round_wins_and_before_iqr():
    before = [[2.0], [2.2], [1.9], [2.4]]
    after = [[1.8], [2.2], [2.0], [2.1]]
    v = ab_verdict(before, after)
    # round 2 ties and counts for neither side
    assert v["after_wins"] == 2 and v["rounds"] == 4
    assert v["before_median"] == 2.1 and v["after_median"] == 2.05
    assert v["before_iqr"] == iqr([2.0, 2.2, 1.9, 2.4])
    assert iqr([1.0, 2.0, 3.0, 4.0, 5.0]) == 2.0
    assert iqr([1.0]) == 0.0
