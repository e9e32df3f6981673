"""Percentiles, spans and span self time.

Pure Python, no Spark: the unit tests in perfbench/tests exercise every
function here directly.
"""

from __future__ import annotations

import math
import time
from contextlib import contextmanager

#: A reported percentile needs at least this many samples above it.
MIN_BEYOND = 10


def pctl(values, p: float) -> float:
    """Nearest-rank percentile (p in [0, 1]); 0.0 for no samples."""
    s = sorted(values)
    if not s:
        return 0.0
    rank = max(1, math.ceil(p * len(s)))
    return float(s[rank - 1])


def samples_beyond(n: int, p: float) -> int:
    """How many of n samples lie above the nearest-rank p-th percentile."""
    return n - max(1, math.ceil(p * n)) if n else 0


def supported_pctl(values, p: float, min_beyond: int = MIN_BEYOND) -> float | None:
    """The p-th percentile, or None when fewer than ``min_beyond`` samples
    lie above it (such a percentile is decided by a handful of samples)."""
    vals = list(values)
    if samples_beyond(len(vals), p) < min_beyond:
        return None
    return pctl(vals, p)


def median(values) -> float:
    s = sorted(values)
    if not s:
        return 0.0
    m = len(s) // 2
    return float(s[m]) if len(s) % 2 else (s[m - 1] + s[m]) / 2.0


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of [start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
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


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id -> duration minus the part of it its children cover.

    Children are clipped to the parent's interval, and overlapping
    children count once, so self time is never negative.
    """
    by_parent: dict[int, list[dict]] = {}
    for sp in spans:
        if sp.get("parent") is not None:
            by_parent.setdefault(sp["parent"], []).append(sp)
    out = {}
    for sp in spans:
        s, e = sp["start"], sp["end"]
        kids = [
            (max(s, c["start"]), min(e, c["end"]))
            for c in by_parent.get(sp["id"], [])
            if c["end"] > s and c["start"] < e
        ]
        out[sp["id"]] = (e - s) - _covered(kids)
    return out


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written out at
    the end of the run. A disabled tracer records nothing and costs one
    attribute check per call site; ``enabled`` may be switched between
    spans, which leaves the switched-off stretch unrecorded.
    """

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.t0 = time.perf_counter()

    def now(self) -> float:
        return time.perf_counter() - self.t0

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int | None:
        if not self.enabled:
            return None
        sid = len(self.spans)
        self.spans.append(
            {"id": sid, "name": name, "start": start, "end": end,
             "parent": parent, "run": self.run_id, **attrs}
        )
        return sid

    @contextmanager
    def span(self, name: str, **attrs):
        """Record a span around the block; yields its id (None if disabled)."""
        if not self.enabled:
            yield None
            return
        sid = self.add(name, self.now(), 0.0, self._stack[-1] if self._stack else None, **attrs)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = self.now()

    def self_time_by_name(self) -> dict[str, float]:
        st = self_times(self.spans)
        out: dict[str, float] = {}
        for sp in self.spans:
            out[sp["name"]] = out.get(sp["name"], 0.0) + st[sp["id"]]
        return out
