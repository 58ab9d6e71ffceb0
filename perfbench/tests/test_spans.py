"""Span self-time computation.

Run with ``python -m pytest perfbench/tests -q`` from the checkout root.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench.spans import Tracer, self_times  # noqa: E402


def _span(sid, name, start, end, parent=None):
    return {"id": sid, "name": name, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_children():
    spans = [
        _span(0, "run", 0.0, 10.0),
        _span(1, "scan", 1.0, 3.0, parent=0),
        _span(2, "udf", 4.0, 8.0, parent=0),
    ]
    assert self_times(spans) == pytest.approx({"run": 4.0, "scan": 2.0, "udf": 4.0})


def test_overlapping_children_count_once_and_are_clipped_to_parent():
    spans = [
        _span(0, "run", 0.0, 10.0),
        _span(1, "a", 2.0, 6.0, parent=0),
        _span(2, "b", 5.0, 7.0, parent=0),  # overlaps a by 1 s
        _span(3, "c", 9.0, 12.0, parent=0),  # runs 2 s past its parent
    ]
    assert self_times(spans)["run"] == pytest.approx(10.0 - 5.0 - 1.0)


def test_grandchildren_only_reduce_their_own_parent():
    spans = [
        _span(0, "run", 0.0, 10.0),
        _span(1, "rep", 0.0, 6.0, parent=0),
        _span(2, "job", 1.0, 5.0, parent=1),
        _span(3, "rep", 6.0, 10.0, parent=0),
    ]
    st = self_times(spans)
    assert st["run"] == pytest.approx(0.0)
    assert st["rep"] == pytest.approx(2.0 + 4.0)  # same name sums
    assert st["job"] == pytest.approx(4.0)


def test_tracer_records_parent_links_and_disabled_tracer_records_nothing():
    t = Tracer()
    with t.span("outer"):
        with t.span("inner"):
            pass
    assert [(s["name"], s["parent"]) for s in t.spans] == [("outer", None), ("inner", 0)]
    assert all(s["end"] >= s["start"] for s in t.spans)
    off = Tracer(enabled=False)
    with off.span("outer"):
        pass
    assert off.spans == []
