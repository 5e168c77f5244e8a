"""tools/ab.py's paired rule: a gain holds only when the change wins nine
tenths of the pairs run, the medians differ by more than the base's
quartile spread, and the change side fails no more than the base."""

from __future__ import annotations

import importlib.util
import os

_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "ab.py")
_spec = importlib.util.spec_from_file_location("ab_tool", _PATH)
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)

BASE = [1.00, 1.02, 0.98, 1.05, 0.97, 1.01, 1.03, 0.99, 1.04, 1.00]


def run(value, failed=0, correct=True):
    return {"correct": correct, "failed": failed, "attempted": 100,
            "metrics": {"work_s": {"value": value}}}


def pairs(base, change):
    return [(run(b), run(c)) for b, c in zip(base, change)]


def test_nine_of_ten_wins_and_a_wide_gap_hold():
    v = ab.verdict(pairs(BASE, [0.5] * 9 + [1.5]), "work_s", lower_better=True)
    assert v["wins"] == 9 and v["holds"]


def test_eight_of_ten_wins_do_not_hold():
    v = ab.verdict(pairs(BASE, [0.5] * 8 + [1.5, 1.5]), "work_s", lower_better=True)
    assert not v["holds"]


def test_a_gap_inside_the_base_spread_does_not_hold():
    # wins every pair, but by less than the base's own quartile spread
    v = ab.verdict(pairs(BASE, [b - 0.005 for b in BASE]), "work_s", lower_better=True)
    assert v["wins"] == 10 and not v["holds"]


def test_ties_count_for_neither_side_and_direction_is_respected():
    v = ab.verdict(pairs([1.0] * 10, [1.0] * 10), "work_s", lower_better=False)
    assert v["wins"] == 0 and not v["holds"]
    v = ab.verdict(pairs([0.5] * 10, [1.0] * 10), "work_s", lower_better=False)
    assert v["wins"] == 10 and v["holds"]


def test_failed_change_runs_count_against_the_nine_tenths():
    # 12 pairs run, two change runs failed: 10 of the 10 comparable pairs
    # are wins, but that is under nine tenths of the 12 run
    results = pairs(BASE, [0.5] * 10) + [(run(1.0), None), (run(1.0), None)]
    v = ab.verdict(results, "work_s", lower_better=True)
    assert v["pairs"] == 12 and v["wins"] == 10 and not v["holds"]


def test_a_change_that_fails_more_does_not_hold():
    results = pairs(BASE, [0.5] * 10)
    assert ab.verdict(results, "work_s", lower_better=True)["holds"]
    failing = results[:-1] + [(results[-1][0], run(0.5, failed=3))]
    assert not ab.verdict(failing, "work_s", lower_better=True)["holds"]
    incorrect = results[:-1] + [(results[-1][0], run(0.5, correct=False))]
    assert not ab.verdict(incorrect, "work_s", lower_better=True)["holds"]
