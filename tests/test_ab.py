"""The soak / A-B driver ``scripts/ab.py``: interleaved timing order, the
correctness pass (arm agreement and cell checks run before any timing),
the growth-exponent fit, the cell listing, and one real cell end to end."""

from __future__ import annotations

import math
import os
import sys
from types import SimpleNamespace

import pytest

SCRIPTS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
sys.path.insert(0, SCRIPTS)

import ab  # noqa: E402

# a stand-in session: toy arms return plain values, so the driver only
# needs the JVM GC hook it calls before every timed run
FAKE_SPARK = SimpleNamespace(_jvm=SimpleNamespace(System=SimpleNamespace(gc=lambda: None)))


def _toy(calls, outputs, check=None, scales=(1,)):
    def arm(name):
        def run(spark, data):
            calls.append(name)
            return outputs[name]

        return run

    return ab.Cell("toy", scales, lambda spark, s: s, {a: arm(a) for a in outputs}, check)


def test_arms_are_checked_once_then_timed_in_alternating_order():
    calls = []
    rows = ab.run(FAKE_SPARK, _toy(calls, {"a": [1, 2], "b": [2, 1]}))
    assert ab.RUNS == 3
    assert calls == ["a", "b"] + ["a", "b", "b", "a", "a", "b"]
    assert len(rows) == 2 and rows[0].startswith("| `toy` (a) |")


def test_disagreeing_arms_raise_with_cell_and_scale():
    calls = []
    with pytest.raises(AssertionError, match=r"toy at x3: arms a and b disagree"):
        ab.run(FAKE_SPARK, _toy(calls, {"a": [1], "b": [2]}, scales=(3,)))
    assert calls == ["a", "b"]  # nothing was timed


def test_failing_check_raises_before_timing():
    def check(data, out):
        assert out == "right", "wrong rows"

    calls = []
    with pytest.raises(AssertionError, match=r"toy at x1: arm a failed its check: wrong rows"):
        ab.run(FAKE_SPARK, _toy(calls, {"a": "wrong"}, check))
    assert calls == ["a"]


def test_exponent_is_exact_on_a_power_law_and_nan_at_one_point():
    scales = (1, 3, 10)
    assert ab.exponent(scales, [2 * s**0.5 for s in scales]) == pytest.approx(0.5, abs=1e-12)
    assert math.isnan(ab.exponent((1,), [2.0]))
    rows = ab.run(FAKE_SPARK, _toy([], {"": 7}, lambda d, o: "seven"))
    assert rows[0].startswith("| `toy` | ") and rows[0].endswith(" | — | seven |")


def test_listing_imports_every_cell_module_with_unique_names():
    cells = ab.cells()
    names = [c.name for c in cells]
    assert len(names) == len(set(names))
    for m in ab.MODULES:
        assert sys.modules[m].CELLS, m
    defining = set()
    for fname in os.listdir(SCRIPTS):
        if fname.endswith(".py"):
            with open(os.path.join(SCRIPTS, fname)) as fh:
                if "\nCELLS = " in fh.read():
                    defining.add(fname[:-3])
    assert defining == set(ab.MODULES)


def test_resolution_cell_runs_end_to_end_at_first_scale(spark):
    cell = next(c for c in ab.cells() if c.name == "resolution_from_edges")
    (row,) = ab.run(spark, cell, cell.scales[:1])
    assert row.startswith("| `resolution_from_edges` (") and row.endswith(
        " | — | exact clusters |"
    )
