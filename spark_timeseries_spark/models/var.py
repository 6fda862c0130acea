"""Vector autoregression: VAR(p) fit + recursive forecast over a set of
conformed series.

Beyond-reference (sryza/spark-timeseries is univariate-only: every model in
``models/`` fits one series; the closest it gets to multivariate is ARX's
exogenous regressors, ``models/ARX.scala``). VAR is the standard next step
— each series regressed on p lags of ALL series — and the natural
generalization of :func:`~spark_timeseries_spark.models.fit.granger_test`
(Granger's F is exactly a VAR coefficient-restriction test).

Estimation is equation-by-equation OLS (the MLE for a VAR with unrestricted
covariance — Lütkepohl 2005 §3.2), so the fit is k independent least-squares
solves on the same design matrix.

Plan: the named series pivot to a (loc × k) matrix (one shuffle), which
flows as ONE group through a grouped-map numpy kernel — the k-series
system must fit in executor memory, the same envelope as every per-series
model in this engine (a VAR is one model, not a corpus sweep). NaN rows
(any series missing at a loc) are dropped from the design: conform and
fill first for gap-free estimation.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["fit_var", "forecast_var", "impulse_response"]


def _pivoted(df, keys, key_col, order_col, value_col):
    if len(keys) < 2:
        raise ValueError("VAR needs at least 2 series")
    if len(set(keys)) != len(keys):
        raise ValueError("duplicate keys")
    return (
        df.where(F.col(key_col).isin(list(keys)))
        .groupBy(order_col)
        .pivot(key_col, list(keys))
        .agg(F.first(value_col))
    )


def _grouped(df, keys, key_col, order_col, value_col, kern, schema):
    """The named series' (loc × k) matrix — loc-sorted, rows with any
    NaN dropped — through ``kern(mat)`` → output row tuples, in ONE
    grouped map. A ``kern`` that raises (too-short or singular system)
    yields no rows."""
    wide = _pivoted(df, keys, key_col, order_col, value_col)
    names = [f.split()[0] for f in schema.split(",")]

    def _k(pdf: pd.DataFrame) -> pd.DataFrame:
        mat = pdf.sort_values(order_col)[list(keys)].to_numpy(dtype=float)
        mat = mat[~np.isnan(mat).any(axis=1)]
        try:
            rows = kern(mat)
        except Exception:
            rows = []
        return pd.DataFrame(rows, columns=names)

    return wide.withColumn("_g", F.lit(1)).groupBy("_g").applyInPandas(
        _k, schema=schema
    )


def _design(mat: np.ndarray, p: int):
    """(Y, X) for the VAR(p) OLS: Y rows t = p..n−1, X = [1, y_{t−1}…y_{t−p}]
    with lags ordered lag-major (all series at lag 1, then lag 2, …)."""
    n = mat.shape[0]
    if n - p <= mat.shape[1] * p + 1:
        raise ValueError("series too short for the requested order")
    Y = mat[p:]
    blocks = [np.ones((n - p, 1))]
    for lag in range(1, p + 1):
        blocks.append(mat[p - lag : n - lag])
    return Y, np.hstack(blocks)


def _fit_kernel(mat: np.ndarray, keys, p: int):
    Y, X = _design(mat, p)
    beta, *_ = np.linalg.lstsq(X, Y, rcond=None)  # (1+k·p) × k
    rows = []
    for j, target in enumerate(keys):
        rows.append((target, "const", 0, float(beta[0, j])))
        for lag in range(1, p + 1):
            for i, reg in enumerate(keys):
                rows.append(
                    (target, reg, lag,
                     float(beta[1 + (lag - 1) * len(keys) + i, j]))
                )
    return rows, beta


def fit_var(
    df: DataFrame,
    keys: list[str],
    p: int = 1,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
) -> DataFrame:
    """→ (target, regressor, lag, coef): one row per coefficient of each
    equation (``regressor='const'``, ``lag=0`` for the intercept)."""
    if p < 1:
        raise ValueError("p must be >= 1")
    return _grouped(
        df, keys, key_col, order_col, value_col,
        lambda mat: _fit_kernel(mat, keys, p)[0],
        "target string, regressor string, lag int, coef double",
    )


def impulse_response(
    df: DataFrame,
    keys: list[str],
    p: int = 1,
    h: int = 10,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
) -> DataFrame:
    """Impulse-response functions of the fitted VAR →
    (shock, response, step, irf): the effect on series ``response`` at
    horizon ``step`` of a one-unit shock to series ``shock`` at step 0
    (non-orthogonalized Ψ matrices — Ψ_0 = I, Ψ_s = Σ_{j=1..min(s,p)}
    A_j·Ψ_{s−j}, Lütkepohl 2005 §2.1.2; orthogonalization needs the
    residual covariance Cholesky, which callers can apply to these)."""
    if h < 0:
        raise ValueError("h must be >= 0")
    k = len(keys)

    def _irf(mat):
        _, beta = _fit_kernel(mat, keys, p)
        # A_lag: k×k with [i, j] = effect of series j's lag on series i
        A = [
            beta[1 + (lag - 1) * k : 1 + lag * k, :].T
            for lag in range(1, p + 1)
        ]
        psi = [np.eye(k)]
        for s in range(1, h + 1):
            acc = np.zeros((k, k))
            for j in range(1, min(s, p) + 1):
                acc += A[j - 1] @ psi[s - j]
            psi.append(acc)
        return [
            (shock, resp, s, float(m[i, j]))
            for s, m in enumerate(psi)
            for i, resp in enumerate(keys)
            for j, shock in enumerate(keys)
        ]

    return _grouped(
        df, keys, key_col, order_col, value_col, _irf,
        "shock string, response string, step int, irf double",
    )


def forecast_var(
    df: DataFrame,
    keys: list[str],
    p: int = 1,
    h: int = 5,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
) -> DataFrame:
    """Recursive h-step VAR forecast → (key, step, forecast), step 1..h,
    iterating ŷ_{t+1} = c + Σ_lag A_lag·y_{t+1−lag} from the last p
    observed rows (forecasts feed back in, the standard recursion)."""
    if h < 1:
        raise ValueError("h must be >= 1")

    def _forecast(mat):
        _, beta = _fit_kernel(mat, keys, p)
        hist = mat[-p:].copy()
        rows = []
        for step in range(1, h + 1):
            x = np.concatenate(
                [[1.0]] + [hist[-lag] for lag in range(1, p + 1)]
            )
            nxt = x @ beta
            hist = np.vstack([hist, nxt])[-p:] if p > 1 else nxt[None, :]
            rows += [
                (key, step, float(nxt[j])) for j, key in enumerate(keys)
            ]
        return rows

    return _grouped(
        df, keys, key_col, order_col, value_col, _forecast,
        "key string, step int, forecast double",
    )
