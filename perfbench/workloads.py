"""The workloads. Each is a closed loop with one client.

A workload generates its inputs from the seed (``generate``), prepares the
expected outputs its checks need (``prepare_checks``) and hands out one
rotation of requests at a time (``rotation``). A request calls the
library's public functions inside tracer spans, materialises the result and
returns it; its ``check`` runs afterwards, outside the timed region.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Any, Callable

from . import checks, inputs
from .layers import OPERATORS_ENGINE_SPAN


@dataclass
class Request:
    name: str
    items: int
    run: Callable[[Any], Any]
    #: (ctx, output) → problems
    check: Callable[[Any, Any], list[str]]


@dataclass
class Ctx:
    """What a request sees: the session, the tracer and shared counters."""
    spark: Any
    tracer: Any
    cores: int
    counters: dict = field(default_factory=dict)

    def count(self, name: str, n: float = 1) -> None:
        self.counters[name] = self.counters.get(name, 0) + n


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""
    #: what the items of ``items_per_s`` are on this workload
    items = ""
    #: rotations run after the session starts, before anything is timed:
    #: enough for the JIT to finish compiling the hot paths of every request
    WARM_ROTATIONS = 1

    def __init__(self, seed: int, work_dir: str):
        self.seed = seed
        self.dir = os.path.join(work_dir, self.name)

    def generate(self) -> None:
        raise NotImplementedError

    def prepare_checks(self) -> None:
        pass

    def rotation(self) -> list[Request]:
        raise NotImplementedError

    def after_request(self, ctx: Ctx) -> None:
        pass

    def gates(self) -> dict:
        """Where this workload's sizes sit relative to the library's
        routing gates."""
        return {}

    def traced_extras(self, ctx: Ctx) -> list[tuple[str, Any]]:
        """Extra measurements after the traced loop, as (per-layer metric,
        value) pairs; ``OPERATORS_ENGINE_SPAN`` names a span instead."""
        return []


# ---------------------------------------------------------------------------

class TsPrep(Workload):
    """Irregular events → hourly grid → fill_linear → differences →
    roll_mean → to_series → save_parquet: the reference's data-model path."""

    name = "ts_prep"
    items = "input observations"
    WARM_ROTATIONS = 12
    N_KEYS = 30
    N_OBS = 2_000
    #: largest per-key event count ÷ smallest
    SPREAD = 20.0

    def __init__(self, seed, work_dir):
        super().__init__(seed, work_dir)
        import spark_timeseries_spark as sts

        self.index = sts.uniform("2024-01-01", inputs.HOURS, sts.HourFrequency(1))

    def generate(self):
        self.events = inputs.events_table(self.seed, self.N_KEYS, self.N_OBS,
                                          self.SPREAD)
        inputs.write(self.events, os.path.join(self.dir, "events.parquet"))

    def _chain(self, ctx):
        from spark_timeseries_spark.operators import fill, lag, resample, rolling
        from spark_timeseries_spark.sources import events_observations

        t = ctx.tracer
        with t.span("sources.events_observations"):
            obs = events_observations(ctx.spark, self.dir)
        with t.span("operators.resample"):
            grid = resample.resample(obs, self.index, "avg")
        with t.span("operators.fill_linear"):
            filled = fill.fill_linear(grid)
        with t.span("operators.differences"):
            diff = lag.differences(filled)
        with t.span("operators.roll_mean"):
            rolled = rolling.roll_mean(diff, checks.ROLL, "right")
        return [obs, grid, filled, diff, rolled]

    def prepare_checks(self):
        self.ref = checks.ts_prep_reference(self.events.to_pandas())

    def rotation(self):
        from spark_timeseries_spark.sources import serde

        out = os.path.join(self.dir, "out", "series")

        def run(ctx):
            rolled = self._chain(ctx)[-1]
            with ctx.tracer.span("sources.save_parquet.action"):
                serde.save_parquet(rolled, self.index, out)
            return out

        return [Request("ts_prep", self.N_OBS, run,
                        lambda ctx, o: checks.check_ts_prep(o, self.ref))]

    def gates(self):
        from spark_timeseries_spark.operators.resample import MAP_GRID_MAX_INSTANTS

        return {"index_instants": inputs.HOURS,
                "MAP_GRID_MAX_INSTANTS": MAP_GRID_MAX_INSTANTS,
                "keys": self.N_KEYS, "observations": self.N_OBS,
                "grid_rows": self.N_KEYS * inputs.HOURS}

    def traced_extras(self, ctx):
        """Prefix differencing: the action time of the plan that ends at
        operator k minus that of the plan ending at operator k-1, each the
        faster of two runs."""
        from spark_timeseries_spark.operators import layout
        from spark_timeseries_spark.sources import serde

        t = ctx.tracer
        names = ["scan", "resample", "fill_linear", "differences", "roll_mean",
                 "to_series", "save_parquet"]
        times = [float("inf")] * len(names)
        for _ in range(2):
            with t.request():
                plans = self._chain(ctx)
                plans.append(layout.to_series(plans[-1]))
                for k, (name, df) in enumerate(zip(names, plans)):
                    with t.span(f"prefix.{name}.action") as s:
                        noop(df)
                    times[k] = min(times[k], s.seconds)
                with t.span("prefix.save_parquet.action") as s:
                    serde.save_parquet(plans[4], self.index,
                                       os.path.join(self.dir, "out", "prefix"))
                times[-1] = min(times[-1], s.seconds)
        res = [("sources.scan.incr_s", times[0]),
               ("sources.save_parquet.incr_s", times[6] - times[5]),
               ("operators.action_s", times[5] - times[0]),
               (OPERATORS_ENGINE_SPAN, "prefix.to_series.action")]
        res += [(f"operators.{names[k]}.incr_s", times[k] - times[k - 1])
                for k in range(1, 6)]
        return res


# ---------------------------------------------------------------------------

class ModelFit(Workload):
    """Per-series fits through applyInPandas over a dense series table read
    back with load_parquet: garch, egarch, holtwinters, arima certificates
    and one test_series_suite (adf, kpss, ljung_box) per rotation."""

    name = "model_fit"
    items = "series observations fitted or tested"
    WARM_ROTATIONS = 6
    N_SERIES = 48
    LEN_LO, LEN_HI = 48, 480
    MODELS = (
        ("garch", {}),
        ("egarch", {}),
        ("holtwinters", {"period": 24}),
        ("arima", {"p": 1, "d": 1, "q": 1}),
    )
    TESTS = [("adf", "adf", {"max_lag": 1}), ("kpss", "kpss", {}),
             ("lb", "ljung_box", {"max_lag": 10})]

    @property
    def path(self):
        return os.path.join(self.dir, "series.parquet")

    @property
    def n_obs(self) -> int:
        return int(inputs.series_lengths(self.N_SERIES, self.LEN_LO, self.LEN_HI).sum())

    def generate(self):
        import spark_timeseries_spark as sts

        inputs.write(inputs.series_table(self.seed, self.N_SERIES, self.LEN_LO,
                                         self.LEN_HI), self.path)
        with open(self.path + ".idx", "w") as f:
            f.write(sts.uniform("2024-01-01", inputs.HOURS,
                                sts.HourFrequency(1)).to_string())

    def _call(self, ctx, model, kw):
        from spark_timeseries_spark.models import fit_improvement, test_series_suite
        from spark_timeseries_spark.sources import serde

        t = ctx.tracer
        with t.span("sources.load_parquet"):
            df, _ = serde.load_parquet(ctx.spark, self.path)
        with t.span(f"models.{model}"):
            if model == "tests":
                out = test_series_suite(df, self.TESTS)
            else:
                out = fit_improvement(df, model, **kw)
        with t.span(f"models.{model}.action"):
            return out.toPandas()

    def prepare_checks(self):
        con = checks.duckdb_con(self.dir, series_path=self.path)
        self.cert = checks.oracle(con, "garch_fit")
        self.adf = checks.oracle(con, "adf_test")
        con.close()

    def _check_fit(self, ctx, out):
        bad = int((~out["ok"].astype(bool)).sum()) + (self.N_SERIES - len(out))
        ctx.count("fit_requests")
        ctx.count("fit_series", self.N_SERIES)
        ctx.count("fit_failures", bad)
        return checks.check_certificate(out, self.cert)

    def rotation(self):
        reqs = [
            Request(model, self.n_obs,
                    lambda ctx, m=model, kw=kw: self._call(ctx, m, kw),
                    self._check_fit)
            for model, kw in self.MODELS
        ]
        reqs.append(Request(
            "tests", self.n_obs, lambda ctx: self._call(ctx, "tests", {}),
            lambda ctx, out: checks.check_tests(out, self.adf)))
        return reqs

    def gates(self):
        return {"series": self.N_SERIES, "length_range": [self.LEN_LO, self.LEN_HI],
                "observations": self.n_obs, "index_instants": inputs.HOURS}


# ---------------------------------------------------------------------------

class TsPrepFit(Workload):
    """The time-series half of the library in one rotation: one ``ts_prep``
    request (events to series parquet), then ``model_fit``'s four fits and
    one test suite over a series table of widely varied lengths."""

    name = "ts_prep_fit"
    items = "observations: input events of a prep, series observations of a fit"
    WARM_ROTATIONS = 1

    def __init__(self, seed, work_dir):
        super().__init__(seed, work_dir)
        self.prep = TsPrep(seed, self.dir)
        self.fit = ModelFit(seed, self.dir)

    def generate(self):
        self.prep.generate()
        self.fit.generate()

    def prepare_checks(self):
        self.prep.prepare_checks()
        self.fit.prepare_checks()

    def rotation(self):
        return self.prep.rotation() + self.fit.rotation()

    def gates(self):
        return {"ts_prep": self.prep.gates(), "model_fit": self.fit.gates()}

    def traced_extras(self, ctx):
        return self.prep.traced_extras(ctx)


# ---------------------------------------------------------------------------

class CorpusDedup(Workload):
    """MinHash-LSH near-dup pairs → connected components → representative
    selection over a generated corpus with planted near-duplicate
    clusters."""

    name = "corpus_dedup"
    items = "documents"
    WARM_ROTATIONS = 3
    N_DOCS = 2_000
    N_CLUSTERS = 125
    CLUSTER_SIZE = 4
    THRESHOLD = 0.5

    def generate(self):
        self.docs, self.cluster = inputs.documents_table(
            self.seed, self.N_DOCS, self.N_CLUSTERS, self.CLUSTER_SIZE)
        inputs.write(self.docs, os.path.join(self.dir, "documents.parquet"))

    def _docs(self, ctx):
        from spark_timeseries_spark.sources import load_table

        # one input file is one scan split: spread the documents over the
        # cores like the entry queries do
        return load_table(ctx.spark, self.dir, "documents").repartition(ctx.cores)

    def _pipeline(self, ctx):
        from spark_timeseries_spark.pipeline import dedup as dd

        t = ctx.tracer
        with t.span("sources.load_table"):
            docs = self._docs(ctx)
        with t.span("pipeline.dedup_minhash_lsh"):
            pairs = dd.dedup_minhash_lsh(docs, threshold=self.THRESHOLD)
        with t.span("pipeline.dedup_minhash_lsh.action"):
            pairs = pairs.localCheckpoint(eager=True)
        with t.span("pipeline.connected_components"):
            comp = dd.connected_components(pairs)
        with t.span("pipeline.keep_cluster_representatives"):
            kept = dd.keep_cluster_representatives(docs, pairs)
        with t.span("pipeline.keep_cluster_representatives.action"):
            return (pairs.toPandas(), comp.toPandas(),
                    kept.select("doc_id").toPandas()["doc_id"].to_numpy())

    def prepare_checks(self):
        self.sets = [checks.shingle_set(x) for x in self.docs.column("text").to_pylist()]
        self.must_find = checks.planted_pairs(self.sets, self.cluster, 0.8)

    def rotation(self):
        def check(ctx, r):
            return checks.check_dedup(*r, self.sets, self.cluster,
                                      self.THRESHOLD, self.must_find)

        return [Request("corpus_dedup", self.N_DOCS, self._pipeline, check)]

    def after_request(self, ctx):
        # the caller owns dedup_minhash_lsh's persisted tables
        if ctx.tracer.enabled:
            info = ctx.spark.sparkContext._jsc.sc().getRDDStorageInfo()
            used = sum(i.memSize() + i.diskSize() for i in info)
            ctx.counters["persisted_bytes"] = max(
                ctx.counters.get("persisted_bytes", 0), used)
        ctx.spark.catalog.clearCache()

    def gates(self):
        from spark_timeseries_spark.pipeline.dedup import DRIVER_EDGE_ROWS

        return {"documents": self.N_DOCS, "planted_clusters": self.N_CLUSTERS,
                "cluster_size": self.CLUSTER_SIZE,
                "max_planted_pairs": self.N_CLUSTERS * 6,
                "DRIVER_EDGE_ROWS": DRIVER_EDGE_ROWS}

    def traced_extras(self, ctx):
        """Candidate and verified pair counts from the public stage
        functions, run once on the same corpus."""
        from spark_timeseries_spark.pipeline import dedup as dd

        docs = self._docs(ctx)
        sets = dd.shingle_sets(docs).persist()
        sig = dd.minhash_signatures_from_sets(
            sets.withColumnRenamed("id", "doc_id"), "doc_id", 64).persist()
        cand = dd.minhash_lsh_candidates(sig, "doc_id", 16, 4, num_hashes=64).persist()
        n_cand = cand.count()
        n_ver = dd.jaccard_verify(docs, cand, threshold=self.THRESHOLD,
                                  sets=sets).count()
        ctx.spark.catalog.clearCache()
        return [("pipeline.candidate_pairs", n_cand),
                ("pipeline.verified_pairs", n_ver),
                ("pipeline.lsh_yield", n_ver / n_cand if n_cand else 0.0)]


# ---------------------------------------------------------------------------

class SmallCalls(Workload):
    """Tiny inputs (50 keys, one month, daily grid) through a rotation of
    ten public calls across operators, models and pipeline; each call is
    the entry query that wraps it, checked against that query's oracle."""

    name = "small_calls"
    items = "calls"
    N_KEYS = 50
    N_OBS = 2_000
    #: fixture-like per-key counts: the fixtures hold 49-99 events per user
    SPREAD = 4.0
    N_DOCS = 500
    #: (entry query, span name)
    CALLS = (
        ("resample_daily_avg", "operators.resample"),
        ("fill_linear", "operators.fill_linear"),
        ("lags", "operators.lags"),
        ("roll_quantile", "operators.roll_quantile"),
        ("series_stats", "operators.series_stats"),
        ("ts_features", "operators.ts_features"),
        ("cusum", "operators.cusum"),
        ("kendall_tau_b", "operators.kendall_tau_b"),
        ("adf_test", "models.adf"),
        ("dedup_exact", "pipeline.dedup_exact"),
    )

    def generate(self):
        inputs.write(inputs.events_table(self.seed, self.N_KEYS, self.N_OBS,
                                         self.SPREAD),
                     os.path.join(self.dir, "events.parquet"))
        docs, _ = inputs.documents_table(self.seed, self.N_DOCS, 40, 3)
        inputs.write(docs, os.path.join(self.dir, "documents.parquet"))

    def _call(self, ctx, query, span):
        import __spark_entry__ as entry

        fn = entry.queries()[query]
        with ctx.tracer.span(span):
            df = fn(ctx.spark, self.dir)
        with ctx.tracer.span(span + ".action"):
            return df.toPandas()

    def prepare_checks(self):
        con = checks.duckdb_con(self.dir)
        self.want = {q: checks.oracle(con, q) for q, _ in self.CALLS}
        con.close()

    def rotation(self):
        return [
            Request(q, 1, lambda ctx, q=q, s=s: self._call(ctx, q, s),
                    lambda ctx, got, q=q: checks.compare_frames(q, got, self.want[q]))
            for q, s in self.CALLS
        ]

    def gates(self):
        return {"keys": self.N_KEYS, "observations": self.N_OBS,
                "documents": self.N_DOCS, "daily_instants": 31}


WORKLOADS = {w.name: w for w in (TsPrepFit, CorpusDedup, TsPrep, ModelFit, SmallCalls)}
