"""The per-length router (``parallel.by_length``) and what rides on it.

Every dual-plan operator routes ``method="auto"`` through one helper on a
module-constant bound. These tests run each routed decision with its
bound lowered so a seeded frame puts keys on both sides, and check that
auto gives, key by key, what the two forced plans give. They also pin
that no public operator takes a per-call bound again, and that the two
dense-grid plans of ``resample`` / ``align.from_observations`` give a
NULL key the same series.
"""

import importlib
import inspect
import pkgutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from spark_timeseries_spark import operators, parallel
from spark_timeseries_spark.operators import (
    cusum,
    features,
    indicators,
    rankcorr,
    spectral,
)

#: lowered bound for every decision: s1 (7 points) and s2 (9) route short,
#: l1 (24) and l2 (33) long; with period 2 the seasonal Mann-Kendall
#: groups split the same way (≤ 5 vs ≥ 12 points)
BOUND = 9
LENGTHS = {"s1": 7, "s2": 9, "l1": 24, "l2": 33}


@pytest.fixture(scope="module")
def frame(spark):
    rng = np.random.RandomState(31)
    rows = []
    for key, n in LENGTHS.items():
        # rounding forces value ties (the tie-corrected statistics)
        vals = np.round(rng.randn(n) + 0.1 * np.arange(n), 1)
        rows += [(key, i, float(v)) for i, v in enumerate(vals)]
    return spark.createDataFrame(rows, "key string, loc long, value double")


def _theil_sen(df, m):
    return {r.key: (r.slope, r.intercept, r.n_pairs)
            for r in cusum.theil_sen(df, method=m).collect()}


def _mann_kendall(df, m):
    out = {}
    for tag, res in (("mk", cusum.mann_kendall(df, s_method=m)),
                     ("smk", cusum.seasonal_mann_kendall(df, 2, s_method=m))):
        for r in res.collect():
            out[(tag, r.key)] = (r.n, r.s, r.var_s, r.z, r.p_value)
    return out


def _periodogram(df, m):
    return {(r.key, r.k): (r.power,)
            for r in spectral.periodogram(df, method=m).collect()}


def _pairs(fn):
    """Two named-series pairs: (s1, s2) overlaps 7 rows, (l1, l2) 24."""
    def snap(df, m):
        out = {}
        for a, b in (("s1", "s2"), ("l1", "l2")):
            for k, row in fn(df, a, b, m).items():
                out[(a, b, k)] = row
        return out
    return snap


@_pairs
def _coherence(df, a, b, m):
    res = spectral.coherence(df, a, b, smooth=1, method=m)
    return {r.k: (r.sxx, r.syy, r.coh, r.phase) for r in res.collect()}


@_pairs
def _kendall(df, a, b, m):
    r = rankcorr.kendall_tau(df, a, b, method=m).collect()[0]
    return {0: (r.n, r.n_concordant, r.n_discordant, r.tau)}


def _sample_entropy(df, m):
    return {r.key: (r.n, r.b, r.a, r.sampen)
            for r in features.sample_entropy(df, method=m).collect()}


def _ema(df, m):
    out = {(r.key, r.loc, "ema"): (r.ema,)
           for r in indicators.ema(df, 0.3, method=m).collect()}
    for r in indicators.macd(df, 3, 6, 2, method=m).collect():
        out[(r.key, r.loc, "macd")] = (r.macd, r.signal)
    return out


# (decision, module holding the router call, bound attribute, snapshot,
#  forced (short, long) methods, tolerance relative to max(1, |value|));
# tolerances are the ones the per-operator parity tests use
ROUTED = [
    ("theil_sen", cusum, "THEIL_SEN_JOIN_MAX_N", _theil_sen,
     ("join", "kernel"), 1e-12),
    ("mann_kendall", cusum, "MANN_KENDALL_JOIN_MAX_N", _mann_kendall,
     ("join", "kernel"), 1e-12),
    ("periodogram", spectral, "PERIODOGRAM_EXPLODE_MAX_N", _periodogram,
     ("explode", "fft"), 1e-9),
    ("coherence", spectral, "COHERENCE_EXPLODE_MAX_N", _coherence,
     ("explode", "fft"), 1e-9),
    ("sample_entropy", features, "SAMPLE_ENTROPY_JOIN_MAX_N",
     _sample_entropy, ("join", "kernel"), 1e-12),
    ("kendall_tau", rankcorr, "KENDALL_JOIN_MAX_N", _kendall,
     ("join", "mergesort"), 1e-12),
    ("ema", indicators, "_ema_safe_len", _ema, ("closed", "kernel"), 1e-9),
]


def _close(x, y, tol):
    if x is None or y is None:
        return x is None and y is None
    return abs(x - y) <= tol * max(1.0, abs(x), abs(y))


@pytest.mark.parametrize(
    "name, mod, attr, snap, methods, tol", ROUTED, ids=[r[0] for r in ROUTED]
)
def test_auto_matches_both_forced_plans(
    spark, frame, monkeypatch, name, mod, attr, snap, methods, tol
):
    """With the bound lowered to split the keys, auto equals each forced
    plan key by key, and the router really sends rows to both sides."""
    bound = (lambda alpha: BOUND) if attr == "_ema_safe_len" else BOUND
    monkeypatch.setattr(mod, attr, bound)
    routed = []

    def spy(df, n, bnd, *rest):
        routed.append((df, n, bnd))
        return parallel.by_length(df, n, bnd, *rest)

    monkeypatch.setattr(mod, "by_length", spy)
    auto = snap(frame, "auto")
    assert routed and all(b == BOUND for _, _, b in routed), name
    # a pair decision routes one overlap per call: count over all calls
    assert sum(df.where(F.col(n) <= b).count() for df, n, b in routed), name
    assert sum(df.where(F.col(n) > b).count() for df, n, b in routed), name

    short, long_ = (snap(frame, m) for m in methods)
    assert set(auto) == set(short) == set(long_), name
    for key, row in auto.items():
        for forced in (short, long_):
            assert all(
                _close(x, y, tol) for x, y in zip(row, forced[key])
            ), (name, key, row, forced[key])
    spark.catalog.clearCache()  # kendall's auto path persists its overlap


def test_no_public_operator_takes_a_bound():
    """Routing bounds are module constants: no public function of
    ``spark_timeseries_spark.operators`` takes one per call."""
    banned = {"fft_threshold", "kernel_threshold", "pair_threshold", "max_len"}
    found = []
    for info in pkgutil.iter_modules(operators.__path__):
        mod = importlib.import_module(f"{operators.__name__}.{info.name}")
        for fname, fn in vars(mod).items():
            if (
                fname.startswith("_")
                or not inspect.isfunction(fn)
                or fn.__module__ != mod.__name__
            ):
                continue
            params = set(inspect.signature(fn).parameters) & banned
            found += [f"{mod.__name__}.{fname}({p})" for p in sorted(params)]
    assert not found, found


@pytest.mark.parametrize("map_max", [None, 0], ids=["map_grid", "grid_join"])
def test_dense_grid_null_key_is_a_series(spark, monkeypatch, map_max):
    """A NULL key keeps its observed value on both dense-grid plans of
    ``resample`` and ``align.from_observations``, like any other key."""
    import datetime as dt

    import spark_timeseries_spark as sts
    from spark_timeseries_spark.operators import align, resample

    if map_max is not None:
        monkeypatch.setattr(resample, "MAP_GRID_MAX_INSTANTS", map_max)
    day = [dt.datetime(2024, 1, 1 + i) for i in range(4)]
    idx = sts.uniform("2024-01-01", 4, sts.DayFrequency(1))
    obs = spark.createDataFrame(
        [("a", day[0], 1.0), ("a", day[2], 3.0), (None, day[1], 2.0)],
        "key string, ts timestamp, value double",
    )
    want = {
        ("a", 0): 1.0, ("a", 1): None, ("a", 2): 3.0, ("a", 3): None,
        (None, 0): None, (None, 1): 2.0, (None, 2): None, (None, 3): None,
    }
    for out in (resample.resample(obs, idx, "avg"),
                align.from_observations(obs, idx)):
        got = {(r.key, r.loc): r.value for r in out.collect()}
        assert got == want
