"""Span bookkeeping: nesting, self time, and the no-op mode."""

from __future__ import annotations

import os
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from erbench.trace import Span, Tracer, _union_length  # noqa: E402


class FakeContext:
    """Records the job-group calls a SparkContext would receive."""

    def __init__(self):
        self.calls = []

    def setJobGroup(self, gid, desc):  # noqa: N802
        self.calls.append(("set", gid))

    def setLocalProperty(self, key, value):  # noqa: N802
        self.calls.append(("prop", key, value))


def test_union_length_merges_overlaps():
    assert _union_length([]) == 0
    assert _union_length([(0, 1), (2, 3)]) == 2
    assert _union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert _union_length([(0, 10), (1, 2), (3, 4)]) == 10


def test_self_time_subtracts_covered_child_time():
    t = Tracer()
    root = Span("s1", "root", None, 0.0, 10.0)
    t.spans = [root, Span("s2", "a", "s1", 1.0, 4.0),
               Span("s3", "b", "s1", 3.0, 6.0),
               Span("s4", "deep", "s2", 1.5, 2.0)]
    assert t.self_time(root) == 10.0 - 5.0
    assert t.self_time(t.spans[1]) == 3.0 - 0.5


def test_nesting_sets_and_restores_job_group():
    sc = FakeContext()
    t = Tracer(sc)
    with t.span("outer") as outer:
        with t.span("inner") as inner:
            pass
    assert inner.parent == outer.id and outer.parent is None
    assert sc.calls == [("set", outer.id), ("set", inner.id), ("set", outer.id),
                        ("prop", "spark.jobGroup.id", None)]
    assert outer.end >= inner.end >= inner.start >= outer.start


def test_other_thread_spans_hang_below_the_main_thread_span():
    t = Tracer(FakeContext())
    seen = {}

    def worker():
        with t.span("handler") as sp:
            seen["span"] = sp

    with t.span("request") as req:
        th = threading.Thread(target=worker)
        th.start()
        th.join(timeout=10)
    assert not th.is_alive()
    assert seen["span"].parent == req.id


def test_disabled_tracer_records_nothing():
    sc = FakeContext()
    t = Tracer(sc, enabled=False)
    with t.span("x") as sp:
        assert sp is None
    obj = type("O", (), {"f": lambda self, v: v + 1})()
    t.wrap(obj, "f", "obj.f")
    assert obj.f(1) == 2
    assert t.spans == [] and sc.calls == []
