"""Metric names and the per-layer table of a traced run.

``END_TO_END`` and ``PER_LAYER`` are the names the benchmark prints, with
their units; ``BENCHMARK.json`` lists the same names (a test holds the two
in step). Every per-layer metric is printed on every workload: a layer a
workload does not exercise reads 0. A layer's times and counts are per
request of the traced loop that runs the layer (a workload whose rotation
mixes kinds of request runs some layers in only some of them); ``spark.*``
is per request of the traced loop.
"""

from __future__ import annotations

from .eventlog import GroupStats
from .trace import Span, coverage, self_times

END_TO_END = {
    "setup_s": "s",
    "items_per_s": "items/s",
    "call_p50_ms": "ms",
}

_OPS = ("resample", "fill_linear", "differences", "roll_mean", "to_series")
_MODELS = ("garch", "egarch", "holtwinters", "arima", "tests")
_ENGINE = (("tasks", "count"), ("max_task_over_median", "ratio"),
           ("core_busy", "ratio"))

PER_LAYER = {
    "sources.call_s": "s",
    "sources.jobs": "count",
    "sources.bytes_read": "bytes",
    "sources.bytes_written": "bytes",
    "sources.scan.incr_s": "s",
    "sources.save_parquet.incr_s": "s",
    "operators.build_s": "s",
    "operators.eager_jobs": "count",
    "operators.action_s": "s",
    **{f"operators.{op}.incr_s": "s" for op in _OPS},
    **{f"operators.{k}": u for k, u in _ENGINE},
    "operators.shuffle_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    **{f"models.{m}.action_s": "s" for m in _MODELS},
    "models.python_ms": "ms",
    "models.jvm_cpu_ms": "ms",
    **{f"models.{k}": u for k, u in _ENGINE},
    "models.fit_failures": "count",
    "pipeline.build_s": "s",
    "pipeline.eager_jobs": "count",
    "pipeline.action_s": "s",
    "pipeline.candidate_pairs": "count",
    "pipeline.verified_pairs": "count",
    "pipeline.lsh_yield": "ratio",
    "pipeline.persisted_bytes": "bytes",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.exec_run_ms": "ms",
    "spark.exec_cpu_ms": "ms",
    "spark.python_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.build_share": "ratio",
    "op_fail_ratio": "ratio",
    "fit_fail_ratio": "ratio",
    "trace.requests": "count",
    "trace.span_coverage": "ratio",
    "trace.overhead": "ratio",
    "peak_rss_mb": "MB",
}


#: extras key naming the span whose jobs are the operators layer's work
OPERATORS_ENGINE_SPAN = "operators.engine_span"


def _engine(stats: GroupStats, wall_s: float, cores: int) -> dict[str, float]:
    busy = stats.task_seconds / (wall_s * cores) if wall_s > 0 else 0.0
    return {"tasks": stats.tasks, "max_task_over_median": stats.max_over_median(),
            "core_busy": busy}


def layer_table(
    spans: list[Span],
    walls: dict[int, tuple[float, float]],
    groups: dict[str, GroupStats],
    cores: int,
    extras: list[tuple[str, object]],
) -> dict[str, float]:
    """The per-layer metrics of the traced loop (requests in ``walls``),
    plus what ``extras`` measured after it."""
    out = {k: 0.0 for k in PER_LAYER}
    n = max(len(walls), 1)
    loop = [s for s in spans if s.request in walls]
    selft = self_times(loop)
    none = GroupStats()

    def stats_of(ss):
        acc = GroupStats()
        for s in ss:
            acc.add(groups.get(s.group, none))
        return acc

    def layer(name):
        return [s for s in loop if s.layer == name]

    def requests(ss):
        """How many requests the spans ``ss`` belong to (at least 1)."""
        return max(len({s.request for s in ss}), 1)

    src = layer("sources")
    n_src = requests(src)
    out["sources.call_s"] = sum(selft[s.id] for s in src) / n_src
    out["sources.jobs"] = stats_of(src).jobs / n_src
    total = stats_of(loop)
    out["sources.bytes_read"] = total.input_bytes / n_src
    out["sources.bytes_written"] = total.output_bytes / n_src

    for name in ("operators", "pipeline"):
        ss = layer(name)
        build = [s for s in ss if not s.is_action]
        act = [s for s in ss if s.is_action]
        out[f"{name}.build_s"] = sum(selft[s.id] for s in build) / requests(ss)
        out[f"{name}.eager_jobs"] = stats_of(build).jobs / requests(ss)
        out[f"{name}.action_s"] = sum(s.seconds for s in act) / requests(ss)
    ops = layer("operators")
    ops_stats = stats_of(ops)
    ops_wall = sum(s.seconds for s in ops if s.parent is None)

    mod = layer("models")
    for m in _MODELS:
        act = [s for s in mod if s.name == f"models.{m}.action"]
        if act:
            out[f"models.{m}.action_s"] = sum(s.seconds for s in act) / len(act)
    ms = stats_of(mod)
    out["models.python_ms"] = ms.python_ms / requests(mod)
    out["models.jvm_cpu_ms"] = ms.cpu_ms / requests(mod)
    mod_act = [s for s in mod if s.is_action]
    eng = _engine(ms, sum(s.seconds for s in mod_act), cores)
    if mod_act:
        eng["max_task_over_median"] = sum(
            groups.get(s.group, none).max_over_median() for s in mod_act
        ) / len(mod_act)
    eng["tasks"] /= requests(mod)
    for k, v in eng.items():
        out[f"models.{k}"] = v

    # a workload whose operator plans run inside another layer's action
    # (ts_prep) names the span that executed the operator chain on its own
    n_ops = requests(ops)
    engine_span = dict(extras).get(OPERATORS_ENGINE_SPAN)
    if engine_span:
        sp = [s for s in spans if s.name == engine_span]
        ops_stats, ops_wall, n_ops = stats_of(sp), sum(s.seconds for s in sp), len(sp)
    for key, value in extras:
        if key in out:
            out[key] = float(value)
    eng = _engine(ops_stats, ops_wall, cores)
    eng["tasks"] /= n_ops
    for k, v in eng.items():
        out[f"operators.{k}"] = v
    out["operators.shuffle_bytes"] = ops_stats.shuffle_write_bytes / n_ops
    out["operators.spill_bytes"] = ops_stats.spill_bytes / n_ops

    out["spark.jobs"] = total.jobs / n
    out["spark.stages"] = total.stages / n
    out["spark.tasks"] = total.tasks / n
    out["spark.exec_run_ms"] = total.run_ms / n
    out["spark.exec_cpu_ms"] = total.cpu_ms / n
    out["spark.python_ms"] = total.python_ms / n
    out["spark.gc_ms"] = total.gc_ms / n
    out["spark.shuffle_read_bytes"] = total.shuffle_read_bytes / n
    out["spark.shuffle_write_bytes"] = total.shuffle_write_bytes / n
    out["spark.spill_bytes"] = total.spill_bytes / n
    top = [s for s in loop if s.parent is None]
    build_s = sum(selft[s.id] for s in top if not s.is_action)
    action_s = sum(s.seconds for s in top if s.is_action)
    out["spark.build_share"] = (
        build_s / (build_s + action_s) if build_s + action_s > 0 else 0.0)
    out["trace.requests"] = float(len(walls))
    out["trace.span_coverage"] = coverage(loop, walls)
    return out
