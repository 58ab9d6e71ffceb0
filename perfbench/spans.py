"""In-memory spans recorded by the benchmark around each layer call.

A span has a name, a start, an end and the id of the span that was open
when it started (its parent).  Spans are kept in memory and written out
once, when the run ends.  A span's self time is its duration minus the
part of its interval that its children cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._open[-1] if self._open else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._open.append(sid)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self_times(self.spans)}, f)


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """Total self time per span name.  Children are clipped to their
    parent's interval, and overlapping children count once."""
    by_id = {s["id"]: s for s in spans}
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        p = s["parent"]
        if p is not None and p in by_id:
            ps, pe = by_id[p]["start"], by_id[p]["end"]
            lo, hi = max(s["start"], ps), min(s["end"], pe)
            if hi > lo:
                kids.setdefault(p, []).append((lo, hi))
    out: dict[str, float] = {}
    for s in spans:
        own = (s["end"] - s["start"]) - _covered(kids.get(s["id"], []))
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out
