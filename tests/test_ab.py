"""Statistics and verdicts of the paired A/B harness (``tools/ab.py``)."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

from ab import quartiles, verdict  # noqa: E402

PARENT = [10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 17.0, 18.0, 19.0]


def test_quartiles_interpolate_linearly():
    # numpy's default percentile method, as perfbench uses
    assert quartiles([1.0, 2.0, 3.0, 4.0]) == (1.75, 2.5, 3.25)
    assert quartiles([3.0, 1.0, 2.0]) == (1.5, 2.0, 2.5)
    assert quartiles([7.0]) == (7.0, 7.0, 7.0)


def test_claim_needs_nine_in_ten_wins_and_a_gap_beyond_the_parent_iqr():
    # parent IQR 12.25..16.75 = 4.5; a 5.0 drop in every pair clears it
    v = verdict(PARENT, [x - 5 for x in PARENT])
    assert (v["wins"], v["pairs"], v["claim"]) == (10, 10, True)
    assert v["parent"] == (12.25, 14.5, 16.75)
    assert v["rel"] == pytest.approx(-5 / 14.5)
    # the same drop, but two pairs go the other way: 8/10 is no claim
    change = [x - 5 for x in PARENT[:8]] + [x + 1 for x in PARENT[8:]]
    v = verdict(PARENT, change)
    assert (v["wins"], v["claim"]) == (8, False)


def test_ties_count_for_neither_side():
    nine = [x - 6 for x in PARENT[:9]] + [PARENT[9]]
    assert (verdict(PARENT, nine)["wins"], verdict(PARENT, nine)["claim"]) == (9, True)
    eight = [x - 6 for x in PARENT[:8]] + PARENT[8:]
    assert (verdict(PARENT, eight)["wins"], verdict(PARENT, eight)["claim"]) == (8, False)


def test_winning_every_pair_inside_the_parent_spread_is_no_claim():
    v = verdict(PARENT, [x - 1 for x in PARENT])
    assert v["wins"] == 10
    assert v["claim"] is False


def test_higher_is_better_metrics_flip_direction():
    v = verdict(PARENT, [x + 5 for x in PARENT], better="higher", bound=0.2)
    assert (v["wins"], v["claim"], v["bound"]) == (10, True, True)
    v = verdict(PARENT, [x * 0.7 for x in PARENT], better="higher", bound=0.2)
    assert (v["wins"], v["claim"], v["bound"]) == (0, False, False)


def test_bound_is_the_relative_worsening_of_the_median():
    assert verdict(PARENT, [x * 1.1 for x in PARENT], bound=0.2)["bound"] is True
    assert verdict(PARENT, [x * 1.3 for x in PARENT], bound=0.2)["bound"] is False
    assert verdict(PARENT, PARENT)["bound"] is None


def test_runs_must_pair_up():
    with pytest.raises(ValueError):
        verdict(PARENT, PARENT[:9])
    with pytest.raises(ValueError):
        verdict([], [])


def test_fewer_than_ten_pairs_claim_nothing():
    v = verdict(PARENT[:9], [x - 9 for x in PARENT[:9]])
    assert (v["wins"], v["claim"]) == (9, False)
