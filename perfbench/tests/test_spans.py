"""Span bookkeeping: self time, job tags and wrapper patching."""

from __future__ import annotations

import types

import pytest

from perfbench.spans import Span, Tracer, description, self_times, span_id_of


def test_self_time_subtracts_nested_children():
    spans = [
        Span(1, "pass", None, 0.0, 10.0),
        Span(2, "a", 1, 1.0, 4.0),
        Span(3, "b", 1, 5.0, 6.0),
        Span(4, "a.inner", 2, 2.0, 3.5),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 3.0 - 1.0)
    assert st[2] == pytest.approx(3.0 - 1.5)
    assert st[3] == pytest.approx(1.0)
    assert st[4] == pytest.approx(1.5)


def test_self_time_counts_overlapping_children_once_and_clips_to_parent():
    spans = [
        Span(1, "stage", None, 0.0, 10.0),
        Span(2, "x", 1, 2.0, 6.0),
        Span(3, "y", 1, 4.0, 8.0),      # overlaps x on [4, 6]
        Span(4, "z", 1, 9.0, 12.0),     # runs past the parent's end
    ]
    assert self_times(spans)[1] == pytest.approx(10.0 - 6.0 - 1.0)


def test_self_times_sum_to_root_duration():
    spans = [
        Span(1, "pass", None, 0.0, 8.0),
        Span(2, "q1", 1, 0.5, 3.0),
        Span(3, "op", 2, 1.0, 2.0),
        Span(4, "q2", 1, 3.0, 7.5),
    ]
    assert sum(self_times(spans).values()) == pytest.approx(8.0)


class FakeContext:
    def __init__(self):
        self.descriptions = []

    def setJobDescription(self, value):
        self.descriptions.append(value)


def test_tracer_tags_jobs_with_the_innermost_span():
    sc = FakeContext()
    tr = Tracer(sc)
    with tr.span("outer") as outer:
        with tr.span("inner") as inner:
            pass
    assert sc.descriptions == [description(outer), description(inner), description(outer), None]
    assert span_id_of(description(inner)) == inner.id
    assert span_id_of("some other job") is None
    assert inner.parent == outer.id and inner.end <= outer.end


def test_wrap_records_spans_and_unpatch_restores():
    mod = types.SimpleNamespace(op=lambda x, k=1: x * k)
    original = mod.op
    tr = Tracer()
    tr.wrap(mod, "op", "layer.op", on_return=lambda s, a, kw, r: s.attrs.update(result=r))
    with tr.span("pass") as root:
        assert mod.op(3, k=2) == 6
    tr.unpatch()
    assert mod.op is original
    (op,) = [s for s in tr.spans if s.name == "layer.op"]
    assert op.parent == root.id and op.attrs == {"result": 6}
    assert tr.descendants(root) == [root, op]


def test_retroactive_span_nests_under_its_parent():
    tr = Tracer()
    with tr.span("pass") as root:
        pass
    s = tr.add("pipeline.records", root.start, root.start + 1.0, root)
    assert s.parent == root.id and s.duration == pytest.approx(1.0)
    assert tr.descendants(root) == [root, s]
