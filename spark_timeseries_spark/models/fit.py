"""Distributed model estimation — the reference's "UDAF surface".

The reference applies models via ``mapSeries(v => Model.fitModel(v)...)``
(SURVEY §2.9): one single-threaded estimator per series, parallel across
series. Here that is a grouped-map pandas UDF: ``df.groupBy(key)
.applyInPandas(...)`` — one Arrow batch per series, numpy estimator inside,
results as plain DataFrames:

- :func:`fit_models`   → (key, model, params ARRAY<double>, aux...)
- :func:`forecast`     → (key, step, forecast)
- :func:`residuals`    → (key, loc, ts, value) with model effects removed
- :func:`test_series`  → (key, stat, p_value) for a named statistical test

Each model is one entry of :data:`_MODELS` (class, fit, parameter layout,
optimizer start, objective) and each test one entry of :data:`_TESTS`, so a
new model or test is one table entry. What a model can do (forecast, remove
effects, forecast variance) is read from its class, the way the reference's
``TimeSeriesModel`` trait (``models/TimeSeriesModel.scala:23-45``) declares
it. Every public function runs its per-series work through one grouped map,
:func:`_per_series`.

Scale notes: the plan is one exchange on the key (reused if the input is
already hash-partitioned by key); each series must fit in executor memory —
the same envelope the reference assumes
(``src/site/markdown/index.md:35-40``). Models never touch the driver.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..parallel import spread_kernel
from ..stats import tests as st
from . import arima as arima_mod
from . import arx as arx_mod
from . import univariate as uni


class _Model(NamedTuple):
    """One fittable model.

    - ``cls``: the class of the fitted model; None for selectors
      (``ewma_grid``, ``arima_auto``) that have no model object to run.
    - ``fit(y, kw, start)``: the fitted model. ``start`` is the
      certificate's precomputed optimizer start or None; only ``arima``,
      whose public fit takes its start, uses it.
    - ``params(fitted)``: the flat vector :func:`fit_models` returns.
    - ``load(params, kw)``: the model object for those params.
    - ``start(y, kw)``: the model at the optimizer's deterministic start,
      and ``objective(model, y)``: the value the fit lowers. Both None for
      exact fits, which need no certificate.
    - ``defaults``: the keyword arguments the entry reads, with defaults.
    """

    cls: type | None
    fit: Callable
    params: Callable
    load: Callable | None = None
    start: Callable | None = None
    objective: Callable | None = None
    defaults: dict = {}


def _neg_ll(m, y) -> float:
    return -m.log_likelihood(y)


def _arima_model(coefficients, kw) -> arima_mod.ARIMAModel:
    return arima_mod.ARIMAModel(
        kw["p"], kw["d"], kw["q"], coefficients, kw["include_intercept"]
    )


_MODELS = {
    "ar": _Model(
        uni.ARModel,
        lambda y, kw, _: uni.fit_ar(y, kw["max_lag"], kw["no_intercept"]),
        lambda m: np.concatenate([[m.c], m.coefficients]),
        lambda p, kw: uni.ARModel(float(p[0]), p[1:]),
        defaults={"max_lag": 1, "no_intercept": False},
    ),
    "ewma": _Model(
        uni.EWMAModel,
        lambda y, kw, _: uni.fit_ewma(y),
        lambda m: np.array([m.smoothing]),
        lambda p, kw: uni.EWMAModel(float(p[0])),
        lambda y, kw: uni.ewma_start(),
        lambda m, y: m.sse(y),
    ),
    "ewma_grid": _Model(
        None,
        lambda y, kw, _: uni.fit_ewma_grid(y, kw["steps"]),
        np.array,  # (alpha, sse)
        defaults={"steps": 100},
    ),
    "garch": _Model(
        uni.GARCHModel,
        lambda y, kw, _: uni.fit_garch(y),
        lambda m: np.array([m.omega, m.alpha, m.beta]),
        lambda p, kw: uni.GARCHModel(*map(float, p)),
        lambda y, kw: uni.garch_start(y),
        _neg_ll,
    ),
    "egarch": _Model(
        uni.EGARCHModel,
        lambda y, kw, _: uni.fit_egarch(y),
        lambda m: np.array([m.omega, m.alpha, m.gamma, m.beta]),
        lambda p, kw: uni.EGARCHModel(*map(float, p)),
        lambda y, kw: uni.egarch_start(y),
        _neg_ll,
    ),
    "argarch": _Model(
        uni.ARGARCHModel,
        lambda y, kw, _: uni.fit_ar_garch(y),
        lambda m: np.array(
            [m.c, m.phi, m.garch.omega, m.garch.alpha, m.garch.beta]
        ),
        lambda p, kw: uni.ARGARCHModel(
            float(p[0]), float(p[1]), uni.GARCHModel(*map(float, p[2:]))
        ),
        lambda y, kw: uni.ar_garch_start(y),
        lambda m, y: -m.garch.log_likelihood(m.innovations(y)),
    ),
    "holtwinters": _Model(
        uni.HoltWintersModel,
        lambda y, kw, _: uni.fit_holt_winters(y, kw["period"], kw["model_type"]),
        lambda m: np.array([m.alpha, m.beta, m.gamma, m.sse_]),
        lambda p, kw: uni.HoltWintersModel(
            kw["period"], float(p[0]), float(p[1]), float(p[2]), kw["model_type"]
        ),
        lambda y, kw: uni.holt_winters_start(kw["period"], kw["model_type"]),
        lambda m, y: m.sse(y),
        {"period": 12, "model_type": "additive"},
    ),
    "arima": _Model(
        arima_mod.ARIMAModel,
        lambda y, kw, start: arima_mod.fit_arima(
            y, kw["p"], kw["d"], kw["q"], kw["include_intercept"],
            None if start is None else start.coefficients,
        ),
        lambda m: m.coefficients,
        _arima_model,
        lambda y, kw: _arima_model(
            arima_mod.arima_start(
                y, kw["p"], kw["d"], kw["q"], kw["include_intercept"]
            ),
            kw,
        ),
        lambda m, y: -m.log_likelihood_css(y),
        {"p": 1, "d": 0, "q": 0, "include_intercept": True},
    ),
    "arima_auto": _Model(
        None,
        lambda y, kw, _: arima_mod.auto_fit(
            y, kw["max_p"], kw["max_d"], kw["max_q"]
        ),
        lambda m: np.concatenate([[m.p, m.d, m.q], m.coefficients]),
        start=lambda y, kw: arima_mod.auto_start(y, kw["max_d"]),
        objective=lambda m, y: m.approx_aic(y),
        defaults={"max_p": 5, "max_d": 2, "max_q": 5},
    ),
}


def _arimax_args(kw: dict) -> tuple:
    """(p, d, q, xreg_max_lag, include_original_xreg, include_intercept)"""
    return (
        kw.get("p", 1), kw.get("d", 0), kw.get("q", 0),
        kw.get("xreg_max_lag", 0),
        kw.get("include_original_xreg", True),
        kw.get("include_intercept", True),
    )


def _fit_arx(y, X, kw):
    yl, xl = kw.get("y_max_lag", 1), kw.get("x_max_lag", 1)
    m = arx_mod.fit_arx(
        y, X, yl, xl,
        kw.get("include_original_x", True), kw.get("no_intercept", False),
    )
    return np.concatenate([[m.c], m.coefficients]), [yl, xl]


def _fit_arimax(y, X, kw):
    args = _arimax_args(kw)
    return arx_mod.fit_arimax(y, X, *args).coefficients, args[:3]


def _fit_regression_arima(y, X, kw):
    m = arx_mod.fit_regression_arima_cochrane_orcutt(y, X, kw.get("max_iter", 10))
    return m.beta, [m.rho, m.dw, m.iterations, m.dw0]


#: exogenous-regressor models: name → fit(y, X, kwargs) → (params, aux)
_XREG_MODELS = {
    "arx": _fit_arx,
    "arimax": _fit_arimax,
    "regression_arima": _fit_regression_arima,
}


def _trend(y: np.ndarray) -> np.ndarray:
    return np.arange(len(y), dtype=float)[:, None]


#: statistical tests: name → run(y, kwargs) → (stat, p_value). The BG/BP
#: auxiliary regressions use a linear time trend as the factor matrix.
_TESTS = {
    "adf": lambda y, kw: st.adf_test(
        y, kw.get("max_lag", 1), kw.get("regression", "c")
    ),
    "kpss": lambda y, kw: (st.kpss_test(y, kw.get("method", "c"))[0], np.nan),
    "dw": lambda y, kw: (st.durbin_watson(y), np.nan),
    "ljung_box": lambda y, kw: st.ljung_box(y, kw.get("max_lag", 10)),
    "breusch_godfrey": lambda y, kw: st.breusch_godfrey(
        y, _trend(y), kw.get("max_lag", 1)
    ),
    "breusch_pagan": lambda y, kw: st.breusch_pagan(y, _trend(y)),
    "arch_lm": lambda y, kw: st.arch_lm(y, kw.get("max_lag", 1)),
}


#: accepted spellings → canonical registry names
_MODEL_ALIASES = {"holt_winters": "holtwinters", "ljungbox": "ljung_box"}


def _require(name: str, known) -> str:
    """Name validation happens BEFORE the grouped-map UDF is shipped: a typo
    fails fast on the driver instead of inside every task, and the per-series
    except-all in :func:`_per_series` can then safely degrade real estimator
    failures (short / degenerate series) to empty params rather than failing
    the stage. Returns the canonical name (aliases like ``holt_winters``
    normalize)."""
    name = _MODEL_ALIASES.get(name, name)
    if name not in known:
        raise ValueError(
            f"unknown model/test {name!r}; expected one of {tuple(known)}"
        )
    return name


def _able(method: str) -> tuple:
    """The models whose class implements ``method``."""
    return tuple(n for n, e in _MODELS.items() if hasattr(e.cls, method))


def _model_for(e: _Model, y: np.ndarray, kw: dict, params=None):
    """The model object for ``params``, or for the params fitted to ``y``."""
    if params is None:
        params = e.params(e.fit(y, kw, None))
    return e.load(params, kw)


def _no_worse(fitted: float, start: float) -> bool:
    return bool(fitted <= start * (1 + 1e-9) + 1e-9)


def _per_series(
    df: DataFrame,
    schema,
    parts: list,
    key_col: str,
    order_col: str,
    cols: list,
    keyed: bool = True,
    in_place: bool = False,
) -> DataFrame:
    """The one grouped map behind every public function in this module.

    Each group is one series, sorted by ``order_col``. ``cols`` are read as
    floats (NULL → NaN), and rows with a NaN in any of them are dropped
    unless ``in_place``. Each ``(kernel, fail)`` in ``parts`` is called as
    ``kernel(y)``, or ``kernel(y, X)`` with the further columns as a
    matrix, and returns output columns as a dict. A kernel that raises on
    this series (too short, singular, degenerate) contributes ``fail``'s
    columns instead, so one bad series degrades its own values, not the
    Spark stage; ``fail=None`` lets the error fail the stage.

    Output rows are ``(key, <kernel columns>)``, or only the kernel columns
    when not ``keyed``; ``in_place`` returns the input rows instead, with
    ``cols[0]`` replaced by the kernel column of that name.

    The explicit :func:`~spark_timeseries_spark.parallel.spread_kernel`
    repartition keeps AQE from coalescing the CPU-bound Python stage to
    one task."""

    def _g(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col)
        v = pdf[list(cols)].to_numpy(dtype=float, na_value=np.nan)
        if not in_place:
            v = v[~np.isnan(v).any(axis=1)]
        args = [np.ascontiguousarray(v[:, 0])]
        if len(cols) > 1:
            args.append(np.ascontiguousarray(v[:, 1:]))
        out = {"key": pdf[key_col].iloc[0]} if keyed else {}
        for kernel, fail in parts:
            try:
                out.update(kernel(*args))
            except Exception:
                if fail is None:
                    raise
                out.update(fail)
        if in_place:
            new = np.broadcast_to(out[cols[0]], len(pdf))
            pdf[cols[0]] = [None if np.isnan(x) else float(x) for x in new]
            return pdf
        return pd.DataFrame(out)

    return spread_kernel(df, key_col).groupBy(key_col).applyInPandas(
        _g, schema=schema
    )


def _path(horizon: int, col: str, run) -> list:
    """Parts for an h-step path (step, ``col``) of ``run(y)``; NaN on failure."""
    steps = np.arange(1, horizon + 1, dtype=np.int64)
    return [(lambda y: {"step": steps}, None),
            (lambda y: {col: run(y)}, {col: np.full(horizon, np.nan)})]


def fit_models(
    df: DataFrame,
    model: str,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
    **kwargs,
) -> DataFrame:
    """Per-series estimation → (key, model, params)."""
    model = _require(model, _MODELS)
    e = _MODELS[model]
    kw = {**e.defaults, **kwargs}

    def _fit(y):
        params = e.params(e.fit(y, kw, None))
        return {"model": [model], "params": [params.tolist()]}

    return _per_series(
        df, "key string, model string, params array<double>",
        [(_fit, {"model": [model], "params": [[]]})],
        key_col, order_col, [value_col],
    )


def forecast(
    df: DataFrame,
    model: str,
    horizon: int,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
    **kwargs,
) -> DataFrame:
    """Fit per series and forecast ``horizon`` steps → (key, step, forecast).

    Pass ``params=[...]`` to skip the fit and forecast with a known parameter
    vector (the distributed analog of forecasting from a pre-fit model)."""
    model = _require(model, _able("forecast"))
    e = _MODELS[model]
    fixed = kwargs.pop("params", None)
    if fixed is not None:
        fixed = np.asarray(fixed, dtype=float)
    kw = {**e.defaults, **kwargs}
    return _per_series(
        df, "key string, step long, forecast double",
        _path(horizon, "forecast",
              lambda y: _model_for(e, y, kw, fixed).forecast(y, horizon)),
        key_col, order_col, [value_col],
    )


def residuals(
    df: DataFrame,
    model: str,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
    **kwargs,
) -> DataFrame:
    """Fit per series and remove time-dependent effects
    (``TimeSeriesModel.removeTimeDependentEffects``)."""
    e = _MODELS[_require(model, _able("remove_effects"))]
    kw = {**e.defaults, **kwargs}

    def _resid(y):
        keep = ~np.isnan(y)
        res = np.full(len(y), np.nan)
        res[keep] = _model_for(e, y[keep], kw).remove_effects(y[keep])
        return {value_col: res}

    return _per_series(
        df, df.schema, [(_resid, {value_col: np.nan})],
        key_col, order_col, [value_col], in_place=True,
    )


def apply_model_effects(
    df: DataFrame,
    model: str,
    params,
    add: bool = True,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
    **kwargs,
) -> DataFrame:
    """Distributed ``addTimeDependentEffects`` / ``removeTimeDependentEffects``
    (``models/TimeSeriesModel.scala:23-45``): apply a model's filter (or its
    inverse) to every series with ONE fixed parameter vector. Grouped-map
    pandas UDF; the value column is replaced in place, schema unchanged."""
    e = _MODELS[_require(model, _able("add_effects" if add else "remove_effects"))]
    m = e.load(np.asarray(params, dtype=float), {**e.defaults, **kwargs})
    effect = m.add_effects if add else m.remove_effects

    return _per_series(
        df, df.schema, [(lambda y: {value_col: effect(y)}, None)],
        key_col, order_col, [value_col], in_place=True,
    )


def fit_xreg_models(
    df: DataFrame,
    model: str,
    xreg_cols: list[str],
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
    **kwargs,
) -> DataFrame:
    """Per-series estimation with exogenous regressors →
    (key, model, params ARRAY<double>, aux ARRAY<double>).

    ``model`` ∈ arx (``AutoregressionX.scala:48-68``) | arimax
    (``ARIMAX.scala:59-87``) | regression_arima (Cochrane-Orcutt,
    ``RegressionARIMA.scala:83-160``). ``aux`` carries model-specific
    extras: arx → [y_max_lag, x_max_lag]; arimax → [p, d, q];
    regression_arima → [rho, dw, iterations, dw0]."""
    model = _require(model, _XREG_MODELS)
    fit = _XREG_MODELS[model]

    def _fit(y, X):
        params, aux = fit(y, X, kwargs)
        return {
            "model": [model],
            "params": [np.asarray(params, dtype=float).tolist()],
            "aux": [np.asarray(aux, dtype=float).tolist()],
        }

    return _per_series(
        df, "key string, model string, params array<double>, aux array<double>",
        [(_fit, {"model": [model], "params": [[]], "aux": [[]]})],
        key_col, order_col, [value_col, *xreg_cols],
    )


def variance_forecast(
    df: DataFrame,
    horizon: int,
    model: str = "garch",
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
    **kwargs,
) -> DataFrame:
    """Per-series conditional-variance forecast → (key, step, variance).
    ``model`` ∈ garch | egarch | argarch (the models whose class has a
    ``variance_forecast``): fits the model, then iterates the variance
    recursion h steps ahead (``GARCH.scala:198-259`` is the recursion shape;
    the reference never exposes a variance path — this is the quantity a
    GARCH user actually wants, so we surface it)."""
    e = _MODELS[_require(model, _able("variance_forecast"))]
    kw = {**e.defaults, **kwargs}
    return _per_series(
        df, "key string, step long, variance double",
        _path(horizon, "variance",
              lambda y: _model_for(e, y, kw).variance_forecast(y, horizon)),
        key_col, order_col, [value_col],
    )


def fit_improvement(
    df: DataFrame,
    model: str,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
    **kwargs,
) -> DataFrame:
    """Deterministic optimizer certificate → (key, n, ok).

    ``ok`` asserts the fitted objective is no worse than the objective at the
    optimizer's own deterministic starting point (HR init for ARIMA, the
    fixed CG/simplex starts otherwise, ARIMA(0,d,0) for the auto search) —
    the strongest *hashable* statement about an iterative fit: the optimum
    itself is optimizer-path-dependent, but "the optimizer never returns
    something worse than its start" is an exact boolean the DuckDB oracle
    can assert per key. A per-series fit failure (degenerate input) yields
    ok = false, so the certificate also gates silent degradation."""
    model = _require(model, _MODELS)
    e = _MODELS[model]
    if e.start is None:
        raise ValueError(f"{model} is exactly reproducible; hash its params instead")
    kw = {**e.defaults, **kwargs}

    def _ok(y):
        start = e.start(y, kw)
        fitted = e.fit(y, kw, start)
        return {"ok": [_no_worse(e.objective(fitted, y), e.objective(start, y))]}

    return _per_series(
        df, "key string, n long, ok boolean",
        [(lambda y: {"n": [len(y)]}, None), (_ok, {"ok": [False]})],
        key_col, order_col, [value_col],
    )


def fit_xreg_improvement(
    df: DataFrame,
    model: str,
    xreg_cols: list[str],
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
    **kwargs,
) -> DataFrame:
    """Optimizer certificate for exogenous-regressor models → (key, n, ok);
    same contract as :func:`fit_improvement`, comparing the CSS at the fitted
    parameters to the CSS at the deterministic start
    (:func:`~spark_timeseries_spark.models.arx.arimax_start`)."""
    if model != "arimax":
        raise ValueError("fit_xreg_improvement supports arimax")
    args = _arimax_args(kwargs)

    def _ok(y, X):
        start = arx_mod.ARIMAXModel(*args, arx_mod.arimax_start(y, X, *args))
        fitted = arx_mod.fit_arimax(y, X, *args)
        return {"ok": [_no_worse(fitted.css(y, X), start.css(y, X))]}

    return _per_series(
        df, "key string, n long, ok boolean",
        [(lambda y, X: {"n": [len(y)]}, None), (_ok, {"ok": [False]})],
        key_col, order_col, [value_col, *xreg_cols],
    )


def _test_part(test: str, kw: dict, stat_col: str, p_col: str) -> tuple:
    """One test's (kernel, fail) for :func:`_per_series`: a degenerate
    series gives NaN stat and p, like a failed fit gives empty params."""
    run = _TESTS[test]

    def kernel(y):
        stat, p = run(y, kw)
        return {stat_col: [stat], p_col: [p]}

    return kernel, {stat_col: [np.nan], p_col: [np.nan]}


def test_series(
    df: DataFrame,
    test: str,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
    **kwargs,
) -> DataFrame:
    """Per-series statistical test → (key, stat, p_value). ``test`` ∈
    adf | kpss | dw | ljung_box | breusch_godfrey | breusch_pagan |
    arch_lm; p_value is NaN for tests that return critical values instead
    (kpss) or none (dw). The BG/BP auxiliary regressions use a linear time
    trend as the factor matrix (the per-series analog of the reference's
    caller-supplied ``factors``, ``TimeSeriesStatisticalTests.scala:276-329``);
    ``arch_lm`` (beyond-reference, Engle 1982) treats the series values as
    the residuals under test — pre-whiten first if they carry structure."""
    test = _require(test, _TESTS)
    return _per_series(
        df, "key string, stat double, p_value double",
        [_test_part(test, kwargs, "stat", "p_value")],
        key_col, order_col, [value_col],
    )


def test_series_suite(
    df: DataFrame,
    specs: list,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
) -> DataFrame:
    """Run SEVERAL per-series tests in ONE grouped-map pass →
    (key, <name>_stat, <name>_p per spec). ``specs`` is a list of
    ``(name, test, kwargs)`` with ``test`` from the same registry as
    :func:`test_series`.

    Pure plan optimization (r14): a suite row composed of N
    :func:`test_series` calls pays N scans + N spread exchanges + N
    Python stages + N−1 key joins; each series is already IN CORE once
    per test, so computing every statistic while it is there collapses
    the plan to ONE scan + ONE exchange + ONE Python stage with zero
    change to any statistic (each spec is the same :func:`_test_part`,
    and a failing test NaNs only its own columns)."""
    parts = [
        _test_part(_require(test, _TESTS), kw, f"{name}_stat", f"{name}_p")
        for name, test, kw in specs
    ]
    fields = ", ".join(
        f"`{name}_stat` double, `{name}_p` double" for name, _, _ in specs
    )
    return _per_series(
        df, f"key string, {fields}", parts, key_col, order_col, [value_col]
    )


def _pair(df: DataFrame, key_a: str, key_b: str, key_col, order_col, value_col):
    """The two named series aligned on ``order_col`` by one inner
    equi-join, as one group (``_g``) of (_o, _y, _x) rows."""
    a = df.where(F.col(key_col) == key_a).select(
        F.col(order_col).alias("_o"), F.col(value_col).alias("_y")
    )
    b = df.where(F.col(key_col) == key_b).select(
        F.col(order_col).alias("_o"), F.col(value_col).alias("_x")
    )
    return a.join(b, "_o").withColumn("_g", F.lit(1))


def granger_test(
    df: DataFrame,
    target_key: str,
    cause_key: str,
    max_lag: int = 1,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
) -> DataFrame:
    """Pairwise Granger non-causality: does series ``cause_key`` help
    forecast series ``target_key`` beyond its own history? →
    one row (target, cause, n, f_stat, p_value); see
    :func:`stats.tests.granger_causality` for the statistic (F of
    restricted-vs-unrestricted lag regression; large-sample χ²(p)
    p-value). Beyond-reference.

    Plan: the two named series align on ``order_col`` via one inner
    equi-join (rows where either side is missing drop out — fill first
    for gap-free designs); the pair then flows as ONE group through a
    grouped-map kernel, so the OLS runs on an executor, not the driver —
    the same single-series-in-memory envelope as ``crosscorr``."""

    def _g(y, X):
        f, p = st.granger_causality(y, X[:, 0], max_lag)
        return {"f_stat": [f], "p_value": [p]}

    return _per_series(
        _pair(df, target_key, cause_key, key_col, order_col, value_col),
        "target string, cause string, n long, f_stat double, p_value double",
        [(lambda y, X: {"target": [target_key], "cause": [cause_key],
                        "n": [len(y)]}, None),
         (_g, {"f_stat": [np.nan], "p_value": [np.nan]})],
        "_g", "_o", ["_y", "_x"], keyed=False,
    )


def cointegration_test(
    df: DataFrame,
    key_a: str,
    key_b: str,
    max_lag: int = 0,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
) -> DataFrame:
    """Engle-Granger two-step cointegration between two named series →
    one row (lhs, rhs, n, alpha, beta, adf_stat, cointegrated_5pct);
    see :func:`stats.tests.engle_granger` for the statistic and
    :data:`stats.tests.EG_CRITICAL_2V` for the residual-based critical
    values. Beyond-reference.

    Plan: same shape as :func:`granger_test` — one inner equi-join on
    ``order_col`` conforms the pair (fill first for gap-free designs),
    then the pair flows as ONE group through a grouped-map kernel so the
    two-step OLS runs on an executor inside the engine's standard
    single-series-in-memory envelope."""
    crit5 = st.EG_CRITICAL_2V["5%"]

    def _eg(y, X):
        alpha, beta, stat = st.engle_granger(y, X[:, 0], max_lag)
        return {"alpha": [alpha], "beta": [beta], "adf_stat": [stat],
                "cointegrated_5pct": [bool(stat < crit5)] if stat == stat else [None]}

    nan = [np.nan]
    return _per_series(
        _pair(df, key_a, key_b, key_col, order_col, value_col),
        "lhs string, rhs string, n long, alpha double, beta double,"
        " adf_stat double, cointegrated_5pct boolean",
        [(lambda y, X: {"lhs": [key_a], "rhs": [key_b], "n": [len(y)]}, None),
         (_eg, {"alpha": nan, "beta": nan, "adf_stat": nan,
                "cointegrated_5pct": [None]})],
        "_g", "_o", ["_y", "_x"], keyed=False,
    )
