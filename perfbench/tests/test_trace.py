from perfbench.trace import Span, Tracer, coverage, covered, self_times


def span(i, parent, start, end, name="operators.x"):
    return Span(i, parent, 0, name, start, end)


def test_covered_merges_overlaps():
    assert covered([]) == 0.0
    assert covered([(0, 1), (0.5, 2), (3, 4)]) == 3.0


def test_self_time_subtracts_the_union_of_children():
    spans = [
        span(0, None, 0.0, 10.0),
        span(1, 0, 1.0, 3.0),
        span(2, 0, 2.0, 5.0),   # overlaps child 1: counted once
        span(3, 0, 8.0, 12.0),  # runs past the parent: clipped
        span(4, 1, 1.5, 2.5),   # grandchild: only its parent is subtracted
    ]
    st = self_times(spans)
    assert st[0] == 10.0 - (4.0 + 2.0)
    assert st[1] == 2.0 - 1.0
    assert st[4] == 1.0


def test_coverage_is_the_worst_request():
    spans = [Span(0, None, 0, "a", 0.0, 9.5), Span(1, None, 1, "a", 10.0, 11.0)]
    walls = {0: (0.0, 10.0), 1: (10.0, 12.0)}
    assert coverage(spans, walls) == 0.5


def test_tracer_off_records_nothing_and_sets_no_group():
    calls = []
    t = Tracer(False, set_group=calls.append)
    with t.request():
        with t.span("operators.x") as s:
            assert s is None
    assert t.spans == [] and t.request_walls == {} and calls == []


def test_tracer_on_nests_spans_and_restores_groups():
    calls = []
    t = Tracer(True, set_group=calls.append)
    with t.request():
        with t.span("pipeline.a") as a:
            with t.span("pipeline.a.action") as b:
                pass
    assert b.parent == a.id and a.parent is None
    assert a.request == b.request == 0
    assert calls == [a.group, b.group, a.group, None]
    assert b.is_action and b.layer == "pipeline"
    assert list(t.request_walls) == [0]
