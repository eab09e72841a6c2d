"""In-memory spans recorded by the benchmark around its calls into
each layer. Written out once, when the run ends.

A span is ``{id, name, start, end, parent, trace}`` with wall-clock
seconds (``time.time()``, the clock Spark's progress timestamps use).
The trace id is one per emit request or per micro-batch. Self time is
a span's duration minus the part of it its children cover.
"""

from __future__ import annotations

import itertools
import math
import threading
import time
from contextlib import contextmanager


def covered(intervals: list[tuple[float, float]], lo: float = -math.inf,
            hi: float = math.inf) -> float:
    """Length of ``[lo, hi]`` that the (possibly overlapping) intervals cover."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping

    def charge(self, seconds: float) -> None:
        """Add bookkeeping time spent outside ``record`` (counter reads)."""
        with self._lock:
            self.overhead_s += seconds

    def record(self, name: str, start: float, end: float, trace, parent=None, **attrs):
        if not self.enabled:
            return None
        t0 = time.perf_counter()
        sid = next(self._ids)
        span = {"id": sid, "name": name, "start": start, "end": end,
                "parent": parent, "trace": trace}
        span.update(attrs)
        with self._lock:
            self.spans.append(span)
        self.charge(time.perf_counter() - t0)
        return sid

    @contextmanager
    def span(self, name: str, trace, parent=None, **attrs):
        """Time the body; yields the span id (None when tracing is off)."""
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        start = time.time()
        try:
            yield sid
        finally:
            end = time.time()
            t0 = time.perf_counter()
            span = {"id": sid, "name": name, "start": start, "end": end,
                    "parent": parent, "trace": trace}
            span.update(attrs)
            with self._lock:
                self.spans.append(span)
            self.charge(time.perf_counter() - t0)

    def self_times(self) -> dict[int, float]:
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        return {
            s["id"]: (s["end"] - s["start"])
            - covered(children.get(s["id"], []), s["start"], s["end"])
            for s in self.spans
        }
