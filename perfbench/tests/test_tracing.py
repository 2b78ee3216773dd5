import threading

import pytest

from perfbench.tracing import Span, Tracer, by_name, self_times


def test_self_time_subtracts_children_once():
    spans = [
        Span(0, "op.a", None, 0, 0.0, 10.0),
        Span(1, "child", 0, 0, 1.0, 4.0),
        Span(2, "child", 0, 0, 3.0, 6.0),  # overlaps the first child
        Span(3, "grandchild", 1, 0, 1.5, 2.0),
        Span(4, "op.b", None, 4, 10.0, 12.0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0)  # children cover [1, 6]
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(0.5)
    assert st[4] == pytest.approx(2.0)


def test_self_times_of_a_nested_tree_add_up_to_the_root():
    spans = [
        Span(0, "op", None, 0, 0.0, 10.0),
        Span(1, "a", 0, 0, 1.0, 4.0),
        Span(2, "b", 0, 0, 5.0, 9.0),
        Span(3, "a.leaf", 1, 0, 2.0, 3.0),
        Span(4, "b.leaf", 2, 0, 5.0, 9.0),
    ]
    assert sum(self_times(spans).values()) == pytest.approx(10.0)


def test_self_time_clips_children_to_parent():
    spans = [Span(0, "p", None, 0, 0.0, 2.0), Span(1, "c", 0, 0, 1.0, 5.0)]
    assert self_times(spans)[0] == pytest.approx(1.0)


def test_by_name_aggregates_calls():
    spans = [
        Span(0, "op", None, 0, 0.0, 4.0),
        Span(1, "leaf", 0, 0, 0.0, 1.0),
        Span(2, "leaf", 0, 0, 2.0, 3.0),
    ]
    agg = by_name(spans)
    assert agg["leaf"] == {"calls": 2, "total_s": 2.0, "self_s": 2.0}
    assert agg["op"]["self_s"] == pytest.approx(2.0)


def test_tracer_nesting_op_ids_and_job_groups():
    ticks = iter(range(100))
    groups = []
    t = Tracer(clock=lambda: float(next(ticks)), set_group=groups.append)
    with t.span("op.x"):
        with t.span("inner"):
            pass
        seen = {}

        def worker():
            with t.span("callback") as s:
                seen["span"] = s

        th = threading.Thread(target=worker)
        th.start()
        th.join(timeout=10)
        assert not th.is_alive()
    with t.span("op.y"):
        pass
    op_x, inner, callback, op_y = t.spans
    assert inner.parent == op_x.sid and inner.op == op_x.sid
    # a span on another thread hangs under the main thread's open span and
    # leaves the job group alone
    assert callback.parent == op_x.sid and callback.thread == "worker"
    assert op_y.parent is None and op_y.op == op_y.sid
    assert groups == [f"pb-{op_x.sid}", f"pb-{inner.sid}", f"pb-{op_x.sid}", None, f"pb-{op_y.sid}", None]
    assert all(s.end is not None for s in t.spans)


def test_wrap_records_a_span_and_returns_the_result():
    t = Tracer()
    f = t.wrap("layer.f", lambda x: x + 1)
    assert f(1) == 2
    assert [s.name for s in t.spans] == ["layer.f"]
