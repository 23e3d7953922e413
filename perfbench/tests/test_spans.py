"""Span arithmetic: interval unions, self time and coverage."""

import pytest

from spans import Span, Tracer, child_coverage, covered, self_time_by_name, self_times, union_length


def span(sid, name, start, end, parent=None, op=None):
    return Span(sid, name, start, parent, op or sid, end=end)


def test_union_length_merges_overlaps_and_gaps():
    assert union_length([]) == 0
    assert union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert union_length([(3, 4), (0, 10)]) == pytest.approx(10.0)


def test_covered_clips_to_the_span():
    s = span(1, "op", 1.0, 5.0)
    assert covered(s, [(0.0, 2.0), (4.5, 9.0)]) == pytest.approx(1.5)


def test_self_time_subtracts_the_union_of_children():
    spans = [
        span(1, "op", 0.0, 10.0),
        span(2, "a", 1.0, 4.0, parent=1, op=1),
        span(3, "b", 3.0, 6.0, parent=1, op=1),  # overlaps a
        span(4, "c", 3.5, 4.5, parent=3, op=1),
    ]
    own = self_times(spans)
    assert own[1] == pytest.approx(10.0 - 5.0)
    assert own[3] == pytest.approx(3.0 - 1.0)
    assert own[4] == pytest.approx(1.0)
    assert self_time_by_name(spans)["a"] == pytest.approx(3.0)
    assert child_coverage(spans[0], spans) == pytest.approx(0.5)


def test_tracer_nests_and_shares_the_op_id():
    t = Tracer(enabled=True)
    with t.span("op") as op:
        with t.span("layer") as child:
            pass
    assert child.parent == op.id and child.op == op.id
    assert op.start <= child.start <= child.end <= op.end
    assert Tracer(enabled=False).span("x").__enter__() is None
