import pytest

from perfbench.eventlog import GroupStats
from perfbench.layers import OPERATORS_ENGINE_SPAN, PER_LAYER, layer_table
from perfbench.trace import Span


def S(i, req, name, start, end, parent=None):
    return Span(i, parent, req, name, start, end)


def test_layer_table_from_two_requests():
    spans = [
        S(0, 0, "sources.load_parquet", 0.0, 0.1),
        S(1, 0, "models.garch", 0.1, 0.3),
        S(2, 0, "models.garch.action", 0.3, 1.3),
        S(3, 1, "operators.kendall_tau_b", 2.0, 2.5),
        S(4, 1, "operators.kendall_tau_b.action", 2.5, 3.0),
    ]
    walls = {0: (0.0, 1.3), 1: (2.0, 3.0)}
    groups = {
        spans[2].group: GroupStats(jobs=1, stages=2, tasks=4, cpu_ms=100.0,
                                   python_ms=900.0, input_bytes=1000,
                                   task_ms={0: [1000.0, 1000.0, 1000.0, 1000.0]}),
        spans[3].group: GroupStats(jobs=2, tasks=2, task_ms={1: [100.0, 300.0]}),
        spans[4].group: GroupStats(jobs=1, tasks=1, task_ms={2: [200.0]}),
    }
    t = layer_table(spans, walls, groups, cores=4, extras=[])
    assert set(t) == set(PER_LAYER)
    # layer metrics are per request that runs the layer: sources and models
    # run in request 0 only, operators in request 1 only
    assert t["sources.call_s"] == pytest.approx(0.1)
    assert t["sources.bytes_read"] == 1000
    assert t["models.garch.action_s"] == pytest.approx(1.0)
    assert t["models.python_ms"] == 900
    assert t["models.core_busy"] == pytest.approx(4.0 / (1.0 * 4))
    assert t["operators.eager_jobs"] == 2.0
    assert t["operators.build_s"] == pytest.approx(0.5)
    assert t["operators.action_s"] == pytest.approx(0.5)
    assert t["operators.tasks"] == 3.0
    assert t["spark.jobs"] == 2.0
    build, action = 0.1 + 0.2 + 0.5, 1.0 + 0.5
    assert t["spark.build_share"] == pytest.approx(build / (build + action))
    assert t["trace.span_coverage"] == pytest.approx(1.0)
    assert t["trace.requests"] == 2


def test_extras_set_values_and_name_the_operators_engine_span():
    spans = [S(0, 0, "sources.save_parquet.action", 0.0, 2.0),
             S(1, 1, "prefix.to_series.action", 3.0, 4.0)]
    groups = {spans[1].group: GroupStats(tasks=8, task_ms={0: [500.0] * 8})}
    t = layer_table(spans, {0: (0.0, 2.0)}, groups, cores=4,
                    extras=[("operators.fill_linear.incr_s", 0.7),
                            (OPERATORS_ENGINE_SPAN, "prefix.to_series.action")])
    assert t["operators.fill_linear.incr_s"] == 0.7
    assert t["operators.tasks"] == 8
    assert t["operators.core_busy"] == pytest.approx(4.0 / 4)
