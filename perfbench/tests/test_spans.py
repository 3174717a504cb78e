"""Span bookkeeping: parents, self time and task attribution."""

import threading

import spans


def _span(i, start, end, parent=None):
    return {"id": i, "name": f"s{i}", "start": start, "end": end, "parent": parent,
            "iteration": 0, "attrs": {}}


def test_self_time_is_duration_minus_children_cover():
    recs = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 3.0, parent=0),
        _span(2, 2.0, 4.0, parent=0),   # overlaps child 1: union is 1..4
        _span(3, 6.0, 7.0, parent=0),
        _span(4, 9.5, 12.0, parent=0),  # clipped to the parent's end
        _span(5, 6.2, 6.8, parent=3),   # grandchild: not subtracted from 0
    ]
    assert spans.self_time(recs, recs[0]) == (10.0 - 0.0) - (3.0 + 1.0 + 0.5)
    assert abs(spans.self_time(recs, recs[3]) - 0.4) < 1e-12
    assert spans.self_time(recs, recs[5]) == recs[5]["end"] - recs[5]["start"]


def test_tracer_records_parents_across_threads():
    tracer = spans.Tracer(True)
    with tracer.span("outer"):
        with tracer.span("inner"):
            pass
        def pooled():
            with tracer.span("pool"):
                pass

        t = threading.Thread(target=pooled)
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
    by_name = {s["name"]: s for s in tracer.spans}
    assert by_name["inner"]["parent"] == by_name["outer"]["id"]
    assert by_name["pool"]["parent"] == by_name["outer"]["id"]
    assert by_name["outer"]["parent"] is None
    inner = by_name["inner"]
    assert spans.self_time(tracer.spans, by_name["outer"]) <= (
        by_name["outer"]["end"] - by_name["outer"]["start"]) - (inner["end"] - inner["start"]) + 1e-9


def test_disabled_tracer_records_and_wraps_nothing():
    class Mod:
        f = staticmethod(lambda x: x + 1)

    tracer = spans.Tracer(False)
    with tracer.span("x"):
        pass
    before = Mod.f
    tracer.wrap(Mod, "f", "f")
    assert tracer.spans == [] and Mod.f is before


def test_wrap_records_span_and_count():
    class Mod:
        f = staticmethod(lambda n: list(range(n)))

    tracer = spans.Tracer(True)
    tracer.wrap(Mod, "f", "mod.f", count=len)
    assert Mod.f(3) == [0, 1, 2]
    assert tracer.spans[0]["name"] == "mod.f" and tracer.spans[0]["attrs"]["n"] == 3


def test_overlapping_intervals_count_a_task_once():
    tasks = [(1.0, {"Executor Run Time": 1000}), (2.5, {"Executor Run Time": 500}),
             (9.0, {"Executor Run Time": 7000})]
    got = spans.interval_task_counters([(0.5, 2.0), (1.5, 3.0)], tasks)
    assert got["tasks"] == 2 and got["executor_run_s"] == 1.5
