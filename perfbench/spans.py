"""In-memory spans around the benchmark's calls into the program.

A span records name, start, end (epoch seconds), parent span and op id.
Spans are kept in a list and written out once, at the end of the run.
With tracing off, ``span`` still returns the elapsed time but records
nothing and sets no Spark job property.
"""

from __future__ import annotations

import itertools
import threading
import time
from contextlib import contextmanager

# Job local property the event-log fold reads to attribute a Spark job to
# the span that submitted it.
SPAN_PROPERTY = "perfbench.span"


class Timer:
    """Elapsed seconds of one ``with`` block, readable after it ends."""

    __slots__ = ("start", "end", "id")

    def __init__(self) -> None:
        self.start = time.time()
        self.end = None
        self.id = None  # the span's id when tracing

    @property
    def seconds(self) -> float:
        return (self.end if self.end is not None else time.time()) - self.start


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.sc = None
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def bind(self, spark_context) -> None:
        self.sc = spark_context

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, op: int | None = None, parent: int | None = None):
        t = Timer()
        if not self.enabled:
            try:
                yield t
            finally:
                t.end = time.time()
            return
        stack = self._stack()
        sid = t.id = next(self._ids)
        if parent is None and stack:
            parent = stack[-1]
        rec = {"id": sid, "name": name, "parent": parent, "op": op, "start": t.start}
        stack.append(sid)
        prev = None
        if self.sc is not None:
            prev = self.sc.getLocalProperty(SPAN_PROPERTY)
            self.sc.setLocalProperty(SPAN_PROPERTY, str(sid))
        try:
            yield t
        finally:
            t.end = time.time()
            rec["end"] = t.end
            stack.pop()
            if self.sc is not None:
                self.sc.setLocalProperty(SPAN_PROPERTY, prev)
            with self._lock:
                self.spans.append(rec)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span time minus the part of its interval its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - covered(kids.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
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
