"""Self-time arithmetic: layer self times account for the whole epoch."""

from perfbench.spans import Span, Tracer, covered, self_by_name, self_times


def test_covered_merges_overlaps_and_clips_to_parent():
    assert covered([(1, 3), (2, 5), (8, 12)], 0, 10) == 6  # [1,5] + [8,10]
    assert covered([], 0, 10) == 0
    assert covered([(11, 12)], 0, 10) == 0


def test_self_time_is_duration_minus_children():
    spans = [
        Span(1, 1, None, "engine.epoch", 0.0, 10.0),
        Span(1, 2, 1, "sources.iteration", 0.5, 3.0),
        Span(1, 3, 2, "sources.objectstore.list", 0.5, 1.0),
        Span(1, 4, 1, "engine.write", 3.0, 8.0),
        Span(1, 5, 4, "sinks.write", 4.0, 7.5),
        Span(1, 6, 1, "state.commit", 8.0, 9.5),
    ]
    st = self_times(spans)
    assert st[1] == 10.0 - 9.0  # iteration + write + commit cover 9 s
    assert st[2] == 2.0 and st[3] == 0.5
    assert st[4] == 1.5 and st[5] == 3.5 and st[6] == 1.5
    assert sum(st.values()) == spans[0].duration
    assert self_by_name(spans)["engine.epoch"] == 1.0


def test_epoch_tree_built_from_measured_bounds_sums_to_wall():
    t = Tracer(True)
    t.trace_id = 7
    it = t.add_span("sources.iteration", 0.0, 2.0, None)
    t.add_span("sources.rest.fetch", 0.1, 0.6, it)
    t.add_span("sinks.write", 2.5, 4.0, None)
    t.add_span("state.commit", 4.2, 4.4, None)
    wid = t.add_span("engine.write", 2.1, 4.2, None)
    t.reparent(t.spans, wid, 2.1, 4.2)
    root = t.add_span("engine.epoch", 0.0, 4.5, None)
    t.reparent(t.spans, root, 0.0, 4.5)
    by_name = self_by_name(t.spans)
    assert abs(sum(by_name.values()) - 4.5) < 1e-12
    assert abs(by_name["engine.write"] - 0.6) < 1e-12  # persist and count
    assert abs(by_name["engine.epoch"] - 0.2) < 1e-12  # unattributed loop time
    assert {s.trace_id for s in t.spans} == {7}


def test_disabled_tracer_records_nothing():
    t = Tracer(False)
    with t.span("sinks.write"):
        pass
    t.count("serde.records", 5)
    assert t.spans == [] and not t.counts
