"""Verdicts of the compare command on paired runs."""

import compare

PARENT = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]


def test_improved_needs_nine_of_ten_wins_and_a_gap_beyond_the_spread():
    change = [p * 0.8 for p in PARENT]  # lower is better: 20 % faster
    assert compare.verdict(PARENT, change, higher=False, bound=0.25)[0] == "improved"
    almost = change[:8] + PARENT[8:]  # only 8 of 10 pairs won
    assert compare.verdict(PARENT, almost, higher=False, bound=0.25)[0] != "improved"


def test_regressed_when_median_worse_than_bound():
    change = [p * 1.3 for p in PARENT]
    verdict, gain = compare.verdict(PARENT, change, higher=False, bound=0.25)
    assert verdict == "regressed" and gain < -0.25


def test_unchanged_within_bound():
    change = [p * 1.05 for p in PARENT]
    assert compare.verdict(PARENT, change, higher=False, bound=0.25)[0] == "unchanged"


def test_unresolved_when_parent_spread_exceeds_bound():
    noisy = [5.0, 15.0, 6.0, 14.0, 5.5, 14.5, 6.5, 13.5, 5.0, 15.0]
    change = [n * 1.02 for n in noisy]
    assert compare.verdict(noisy, change, higher=False, bound=0.25)[0] == "unresolved"
