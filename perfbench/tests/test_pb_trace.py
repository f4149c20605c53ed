import threading

import pytest

from perfbench.trace import Span, Tracer, self_times


def _span(i, parent, start, end, name="x"):
    return Span(id=i, name=name, run=1, parent=parent, start=start, end=end)


def test_self_time_subtracts_children():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 3.0),
        _span(3, 1, 5.0, 6.0),
        _span(4, 2, 1.5, 2.5),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 3.0)
    assert st[2] == pytest.approx(2.0 - 1.0)
    assert st[3] == pytest.approx(1.0)
    assert st[4] == pytest.approx(1.0)


def test_self_time_counts_overlapping_children_once():
    # two callback-thread children overlapping in time, one spilling past
    # the parent's end: covered = union [2, 8] clipped to the parent
    spans = [
        _span(1, None, 0.0, 7.0),
        _span(2, 1, 2.0, 5.0),
        _span(3, 1, 4.0, 8.0),
    ]
    assert self_times(spans)[1] == pytest.approx(7.0 - 5.0)


def test_self_times_sum_to_root_duration():
    spans = [
        _span(1, None, 0.0, 4.0),
        _span(2, 1, 0.5, 2.0),
        _span(3, 2, 1.0, 1.5),
        _span(4, 1, 2.5, 3.5),
    ]
    st = self_times(spans)
    assert sum(st.values()) == pytest.approx(4.0)


def test_tracer_links_parents_across_threads():
    tr = Tracer()  # no SparkContext: no job groups
    tr.run = 3
    seen = {}
    with tr.span("run") as root:
        with tr.span("io.write") as w:
            def callback():
                with tr.span("transformers.compose", spec_id="s", function="f") as c:
                    seen["child"] = c
            t = threading.Thread(target=callback)
            t.start()
            t.join(timeout=10)
            assert not t.is_alive()
    assert w.parent == root.id
    assert seen["child"].parent == w.id  # the main thread's open span
    assert {s.run for s in tr.spans} == {3}
    assert all(s.end >= s.start for s in tr.spans)


def test_tracer_counts_py4j_calls_on_innermost_span():
    tr = Tracer()
    with tr.span("run") as root:
        tr.count_py4j()
        with tr.span("io.read") as r:
            tr.count_py4j()
            tr.count_py4j()
    assert (root.py4j_calls, r.py4j_calls) == (1, 2)
