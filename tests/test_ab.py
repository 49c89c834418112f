"""``tools/ab.py``'s paired summary and run order, without Spark."""

from __future__ import annotations

import importlib.util
import os

_TOOL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "ab.py"
)
_spec = importlib.util.spec_from_file_location("ab", _TOOL)
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)


def test_pairs_alternate_which_side_runs_first():
    assert [ab.pair_order(i) for i in range(4)] == [
        ("base", "change"),
        ("change", "base"),
        ("base", "change"),
        ("change", "base"),
    ]


def test_summary_medians_iqr_and_wins_with_ties_for_neither_side():
    base = [100.0, 110.0, 120.0, 130.0, 140.0]
    change = [90.0, 110.0, 125.0, 120.0, 130.0]  # win, tie, loss, win, win
    pairs = [
        {"base": {"p50_ms": b, "rows_s": b}, "change": {"p50_ms": c, "rows_s": c}}
        for b, c in zip(base, change)
    ]
    s = ab.summarize(pairs, {"rows_s": "higher"})
    assert s["p50_ms"]["base"] == {"median": 120.0, "iqr": 20.0}
    assert s["p50_ms"]["change"] == {"median": 120.0, "iqr": 15.0}
    assert (s["p50_ms"]["wins"], s["p50_ms"]["pairs"]) == (3, 5)
    # the same numbers, higher-better: only the loss above is a win
    assert s["rows_s"]["wins"] == 1


def test_summary_skips_pairs_missing_a_metric():
    pairs = [
        {"base": {"a": 1.0, "b": 5.0}, "change": {"a": 2.0}},
        {"base": {"a": 3.0}, "change": {"a": 1.0, "b": 1.0}},
    ]
    s = ab.summarize(pairs, {})
    assert set(s) == {"a"}
    assert s["a"]["pairs"] == 2 and s["a"]["wins"] == 1
