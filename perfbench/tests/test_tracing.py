"""Span self time: a span's duration minus the union of its children."""

import pytest

from perfbench.tracing import Span, Tracer, self_time_by_name, self_times, span_cost_s


def _span(i, name, start, end, parent=None):
    return Span(i, name, start, end, parent, "r")


def test_self_time_subtracts_child_coverage():
    spans = [
        _span(0, "job", 0.0, 10.0),
        _span(1, "plan", 0.0, 2.0, 0),
        _span(2, "write", 2.0, 7.0, 0),
        _span(3, "scan", 3.0, 4.0, 2),
    ]
    st = self_times(spans)
    assert st == pytest.approx({0: 3.0, 1: 2.0, 2: 4.0, 3: 1.0})


def test_overlapping_and_overhanging_children_count_once():
    spans = [
        _span(0, "p", 1.0, 5.0),
        _span(1, "a", 0.0, 2.0, 0),   # starts before its parent
        _span(2, "b", 1.5, 3.0, 0),   # overlaps a
        _span(3, "c", 4.5, 9.0, 0),   # ends after its parent
    ]
    assert self_times(spans)[0] == pytest.approx(4.0 - (3.0 - 1.0) - 0.5)


def test_self_time_by_name_sums_and_tracer_nests():
    tr = Tracer()
    with tr.span("outer", "r") as outer:
        with tr.span("inner", "r") as inner:
            pass
        with tr.span("inner", "r"):
            pass
    assert tr.spans[inner].parent == outer
    by_name = self_time_by_name(tr.spans)
    total = tr.spans[outer].end - tr.spans[outer].start
    assert by_name["outer"] + by_name["inner"] == pytest.approx(total)


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("x", "r") as sid:
        assert sid is None
    assert tr.spans == []


def test_span_cost_is_a_small_positive_time():
    cost = span_cost_s(2000)
    assert 0 < cost < 1e-3
