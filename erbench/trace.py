"""In-memory spans around the benchmark's calls into each layer.

A span records its name, its parent, start and end. While a span is open
the Spark job group of the calling thread is the span's id, so the
event log can later attribute every job and task to the span that ran
it. Spans stay in memory; ``Tracer.to_json`` writes them at the end.

With ``enabled=False`` every call is a no-op that returns ``None``, so
timed runs pay no tracing cost.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import threading
import time
from dataclasses import dataclass


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


def _union_length(intervals: list[tuple[float, float]]) -> float:
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


class Tracer:
    def __init__(self, spark_context=None, enabled: bool = True):
        self.sc = spark_context
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        # innermost open span of the thread that drives the workload;
        # spans opened on other threads (the HTTP server's handler
        # threads) hang below it
        self._main_thread = threading.get_ident()
        self._main_top: Span | None = None

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(span.id, span.name)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else self._main_top
        with self._lock:
            sp = Span(f"s{next(self._ids)}", name,
                      parent.id if parent else None, time.perf_counter())
            self.spans.append(sp)
        stack.append(sp)
        self._track_main(stack)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            self._track_main(stack)
            self._set_group(stack[-1] if stack else None)

    def _track_main(self, stack: list[Span]) -> None:
        if threading.get_ident() == self._main_thread:
            self._main_top = stack[-1] if stack else None

    def wrap(self, obj, method: str, name: str) -> None:
        """Replace ``obj.method`` on this instance by a traced call."""
        fn = getattr(obj, method)

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        setattr(obj, method, traced)

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        kids = [(max(c.start, span.start), min(c.end, span.end))
                for c in self.spans if c.parent == span.id]
        return span.duration - _union_length([k for k in kids if k[1] > k[0]])

    def to_json(self) -> list[dict]:
        return [
            {"id": s.id, "name": s.name, "parent": s.parent,
             "start": s.start, "end": s.end, "duration_s": s.duration,
             "self_s": self.self_time(s)}
            for s in self.spans
        ]
