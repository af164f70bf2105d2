import threading

from layers import tracing_overhead
from spans import Recorder, Span, covered, self_time
from workloads import JobResult


def _span(start, end, parent=None, span_id=0):
    return Span(span_id, "layer.call", parent, start, end)


def test_self_time_is_duration_minus_child_coverage():
    parent = _span(0.0, 10.0)
    children = [_span(1.0, 3.0), _span(5.0, 6.0)]
    assert covered(parent, children) == 3.0
    assert self_time(parent, children) == 7.0


def test_overlapping_children_are_counted_once():
    parent = _span(0.0, 10.0)
    children = [_span(3.0, 6.0), _span(1.0, 4.0), _span(2.0, 3.0)]
    assert self_time(parent, children) == 5.0


def test_children_are_clipped_to_the_parent():
    parent = _span(0.0, 10.0)
    children = [_span(-2.0, 1.0), _span(9.0, 12.0), _span(20.0, 30.0)]
    assert self_time(parent, children) == 8.0


def test_span_without_children_is_all_self_time():
    assert self_time(_span(2.0, 5.5), []) == 3.5


def test_recorder_nests_spans_and_adopts_other_threads():
    rec = Recorder("run")
    with rec.span("job") as job:
        rec.ambient = job
        with rec.span("plans.build") as plans:
            with rec.span("plans.inner") as inner:
                pass
        seen = {}

        def callback():
            with rec.span("sinks.write") as s:
                seen["span"] = s

        t = threading.Thread(target=callback)
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
        rec.ambient = None
    assert plans.parent == job.span_id
    assert inner.parent == plans.span_id
    assert seen["span"].parent == job.span_id
    assert {s.name for s in rec.children(job)} == {"plans.build", "sinks.write"}
    assert all(s.end is not None and s.end >= s.start for s in rec.spans)
    assert rec.group_id(job) == f"run:{job.span_id}"


def test_tracing_overhead_cancels_a_linear_warm_up_drift():
    # untraced jobs speed up by 1 s a job; traced ones cost 0.5 s more
    times = [10.0, 9.5, 8.0, 7.5, 6.0]
    results = [(JobResult("j", seconds=t), k % 2 == 1) for k, t in enumerate(times)]
    assert tracing_overhead(results) == 0.5
    assert tracing_overhead(results[:2]) == 0.0
