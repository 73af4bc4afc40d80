"""Span recorder and self-time rule.  Run: python3 -m pytest perfbench -q"""

import json

import pytest

from spans import Span, Tracer, covered, self_time_by_name, self_times


class FakeClock:
    def __init__(self, ticks):
        self.ticks = iter(ticks)

    def __call__(self):
        return next(self.ticks)


def test_nesting_sets_parent_and_trace_id():
    t = Tracer(clock=FakeClock([0.0, 1.0, 2.0, 3.0, 4.0, 5.0]))
    with t.span("doc", "u1"):
        with t.span("mentions", "u1"):
            pass
        with t.span("features", "u1"):
            pass
    doc, men, feat = t.spans
    assert (doc.parent, men.parent, feat.parent) == (None, doc.id, doc.id)
    assert {s.trace_id for s in t.spans} == {"u1"}
    assert (doc.start, doc.end, men.start, men.end, feat.start, feat.end) == (0, 5, 1, 2, 3, 4)


def test_span_closes_on_exception():
    t = Tracer(clock=FakeClock([0.0, 1.0, 2.0, 3.0]))
    with pytest.raises(ValueError):
        with t.span("doc", "u"):
            with t.span("evidence.select", "u"):
                raise ValueError
    assert [(s.start, s.end) for s in t.spans] == [(0, 3), (1, 2)]
    assert t._open == []


def test_self_time_subtracts_children():
    spans = [
        Span(0, "doc", "u", None, 0.0, 10.0),
        Span(1, "mentions", "u", 0, 1.0, 3.0),
        Span(2, "features", "u", 0, 4.0, 8.0),
    ]
    st = self_times(spans)
    assert st == {0: pytest.approx(4.0), 1: pytest.approx(2.0), 2: pytest.approx(4.0)}


def test_overlapping_children_count_once():
    spans = [
        Span(0, "batch", "b", None, 0.0, 10.0),
        Span(1, "a", "b", 0, 1.0, 5.0),
        Span(2, "b", "b", 0, 3.0, 7.0),  # overlaps a on [3, 5]
        Span(3, "c", "b", 0, 4.0, 6.0),  # inside the union
    ]
    assert self_times(spans)[0] == pytest.approx(10.0 - 6.0)


def test_children_are_clipped_to_the_parent():
    assert covered(2.0, 6.0, [(0.0, 3.0), (5.0, 9.0)]) == pytest.approx(2.0)
    assert covered(2.0, 6.0, [(7.0, 9.0), (3.0, 3.0)]) == 0.0


def test_grandchildren_only_reduce_their_parent():
    spans = [
        Span(0, "doc", "u", None, 0.0, 10.0),
        Span(1, "evidence.select", "u", 0, 2.0, 6.0),
        Span(2, "inner", "u", 1, 3.0, 5.0),
    ]
    by = self_time_by_name(spans)
    assert by == {"doc": pytest.approx(6.0), "evidence.select": pytest.approx(2.0),
                  "inner": pytest.approx(2.0)}
    assert sum(by.values()) == pytest.approx(10.0)


def test_self_times_sum_to_root_wall_for_a_real_trace():
    t = Tracer()
    for u in ("u1", "u2"):
        with t.span("doc", u):
            for _ in range(3):
                with t.span("evidence.select", u):
                    sum(range(1000))
    roots = [s for s in t.spans if s.parent is None]
    wall = sum(s.end - s.start for s in roots)
    assert sum(self_time_by_name(t.spans).values()) == pytest.approx(wall, rel=1e-9)


def test_dump_writes_one_json_line_per_span(tmp_path):
    t = Tracer(clock=FakeClock([0.0, 1.0, 2.0, 3.0]))
    with t.span("doc", "u"):
        with t.span("mentions", "u"):
            pass
    out = tmp_path / "spans.jsonl"
    t.dump(out)
    rows = [json.loads(x) for x in out.read_text().splitlines()]
    assert rows == [
        {"id": 0, "name": "doc", "trace_id": "u", "parent": None, "start": 0.0, "end": 3.0},
        {"id": 1, "name": "mentions", "trace_id": "u", "parent": 0, "start": 1.0, "end": 2.0},
    ]
