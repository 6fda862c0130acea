"""Statistical tests: ADF, KPSS, Durbin-Watson, Breusch-Godfrey, Ljung-Box,
Breusch-Pagan — numpy kernels with the semantics of
``/root/reference/src/main/scala/com/cloudera/sparkts/stats/TimeSeriesStatisticalTests.scala``
(itself adapted from statsmodels, see its header ``:28-31``).

The MacKinnon tau tables (``:33-127``) are published constants from
MacKinnon, J.G. (1994), "Approximate Asymptotic Distribution Functions for
Unit-Root and Cointegration Tests", JBES 12.2 — reproduced as data.

Distributed use: each test is a per-series aggregate — see
``spark_timeseries_spark.models.fit.test_series`` for the grouped-map form.
"""

from __future__ import annotations

import math

import numpy as np

from ..models._numeric import chi2_sf, norm_cdf

# ---------------------------------------------------------------------------
# MacKinnon (1994) approximate asymptotic p-values for ADF
# ---------------------------------------------------------------------------

_ADF_TAU_STAR = {
    "nc": [-1.04, -1.53, -2.68, -3.09, -3.07, -3.77],
    "c": [-1.61, -2.62, -3.13, -3.47, -3.78, -3.93],
    "ct": [-2.89, -3.19, -3.50, -3.65, -3.80, -4.36],
    "ctt": [-3.21, -3.51, -3.81, -3.83, -4.12, -4.63],
}
_ADF_TAU_MIN = {
    "nc": [-19.04, -19.62, -21.21, -23.25, -21.63, -25.74],
    "c": [-18.83, -18.86, -23.48, -28.07, -25.96, -23.27],
    "ct": [-16.18, -21.15, -25.37, -26.63, -26.53, -26.18],
    "ctt": [-17.17, -21.1, -24.33, -24.03, -24.33, -28.22],
}
_ADF_TAU_MAX = {
    "nc": [math.inf, 1.51, 0.86, 0.88, 1.05, 1.24],
    "c": [2.74, 0.92, 0.55, 0.61, 0.79, 1.0],
    "ct": [0.7, 0.63, 0.71, 0.93, 1.19, 1.42],
    "ctt": [0.54, 0.79, 1.08, 1.43, 3.49, 1.92],
}
_ADF_TAU_SMALLP = {
    "nc": [
        [0.6344, 1.2378, 3.2496e-2],
        [1.9129, 1.3857, 3.5322e-2],
        [2.7648, 1.4502, 3.4186e-2],
        [3.4336, 1.4835, 3.19e-2],
        [4.0999, 1.5533, 3.59e-2],
        [4.5388, 1.5344, 2.9807e-2],
    ],
    "c": [
        [2.1659, 1.4412, 3.8269e-2],
        [2.92, 1.5012, 3.9796e-2],
        [3.4699, 1.4856, 3.164e-2],
        [3.9673, 1.4777, 2.6315e-2],
        [4.5509, 1.5338, 2.9545e-2],
        [5.1399, 1.6036, 3.4445e-2],
    ],
    "ct": [
        [3.2512, 1.6047, 4.9588e-2],
        [3.6646, 1.5419, 3.6448e-2],
        [4.0983, 1.5173, 2.9898e-2],
        [4.5844, 1.5338, 2.8796e-2],
        [5.0722, 1.5634, 2.9472e-2],
        [5.53, 1.5914, 3.0392e-2],
    ],
    "ctt": [
        [4.0003, 1.658, 4.8288e-2],
        [4.3534, 1.6016, 3.7947e-2],
        [4.7343, 1.5768, 3.2396e-2],
        [5.214, 1.6077, 3.3449e-2],
        [5.6481, 1.6274, 3.3455e-2],
        [5.9296, 1.5929, 2.8223e-2],
    ],
}
_ADF_LARGE_SCALING = [1.0, 1e-1, 1e-1, 1e-2]
_ADF_TAU_LARGEP = {
    k: [
        [c * s for c, s in zip(row, _ADF_LARGE_SCALING)]
        for row in rows
    ]
    for k, rows in {
        "nc": [
            [0.4797, 9.3557, -0.6999, 3.3066],
            [1.5578, 8.558, -2.083, -3.3549],
            [2.2268, 6.8093, -3.2362, -5.4448],
            [2.7654, 6.4502, -3.0811, -4.4946],
            [3.2684, 6.8051, -2.6778, -3.4972],
            [3.7268, 7.167, -2.3648, -2.8288],
        ],
        "c": [
            [1.7339, 9.3202, -1.2745, -1.0368],
            [2.1945, 6.4695, -2.9198, -4.2377],
            [2.5893, 4.5168, -3.6529, -5.0074],
            [3.0387, 4.5452, -3.3666, -4.1921],
            [3.5049, 5.2098, -2.9158, -3.3468],
            [3.9489, 5.8933, -2.5359, -2.721],
        ],
        "ct": [
            [2.5261, 6.1654, -3.7956, -6.0285],
            [2.85, 5.272, -3.6622, -5.1695],
            [3.221, 5.255, -3.2685, -4.1501],
            [3.652, 5.9758, -2.7483, -3.2081],
            [4.0712, 6.6428, -2.3464, -2.546],
            [4.4735, 7.1757, -2.0681, -2.1196],
        ],
        "ctt": [
            [3.0778, 4.9529, -4.1477, -5.9359],
            [3.4713, 5.967, -3.2507, -4.2286],
            [3.8637, 6.7852, -2.6286, -3.1381],
            [4.2736, 7.6199, -2.1534, -2.4026],
            [4.6679, 8.2618, -1.822, -1.9147],
            [5.0009, 8.3735, -1.6994, -1.6928],
        ],
    }.items()
}

KPSS_CRITICAL_C = {"10%": 0.347, "5%": 0.463, "2.5%": 0.574, "1%": 0.739}
KPSS_CRITICAL_CT = {"10%": 0.119, "5%": 0.146, "2.5%": 0.176, "1%": 0.216}


def _polyval_ascending(coeffs, x) -> float:
    """Evaluate c0 + c1·x + c2·x² + ..."""
    return float(sum(c * x**i for i, c in enumerate(coeffs)))


def mackinnon_p(test_stat: float, regression: str = "c", n: int = 1) -> float:
    if test_stat > _ADF_TAU_MAX[regression][n - 1]:
        return 1.0
    if test_stat < _ADF_TAU_MIN[regression][n - 1]:
        return 0.0
    if test_stat <= _ADF_TAU_STAR[regression][n - 1]:
        coef = _ADF_TAU_SMALLP[regression][n - 1]
    else:
        coef = _ADF_TAU_LARGEP[regression][n - 1]
    return norm_cdf(_polyval_ascending(coef, test_stat))


# ---------------------------------------------------------------------------
# OLS with standard errors (needed for the ADF t-statistic)
# ---------------------------------------------------------------------------

def _ols_with_se(X: np.ndarray, y: np.ndarray):
    coef, *_ = np.linalg.lstsq(X, y, rcond=None)
    resid = y - X @ coef
    n, k = X.shape
    sigma2 = float(resid @ resid) / (n - k)
    cov = sigma2 * np.linalg.pinv(X.T @ X)
    se = np.sqrt(np.diag(cov))
    return coef, se, resid


def _r_squared(X: np.ndarray, y: np.ndarray, intercept: bool = True) -> float:
    if intercept:
        X = np.column_stack([np.ones(len(X)), X])
    coef, *_ = np.linalg.lstsq(X, y, rcond=None)
    resid = y - X @ coef
    tss = float(((y - y.mean()) ** 2).sum())
    return 1.0 - float(resid @ resid) / tss if tss > 0 else 0.0


def _add_trend(X: np.ndarray, regression: str) -> np.ndarray:
    """Append constant / trend / trend² columns (``:161-196``)."""
    n = len(X)
    cols = [X]
    if regression in ("c", "ct", "ctt"):
        cols.append(np.ones((n, 1)))
    if regression in ("ct", "ctt"):
        cols.append(np.arange(1.0, n + 1)[:, None])
    if regression == "ctt":
        cols.append((np.arange(1.0, n + 1) ** 2)[:, None])
    return np.column_stack(cols)


# ---------------------------------------------------------------------------
# the tests
# ---------------------------------------------------------------------------

def adf_test(y: np.ndarray, max_lag: int, regression: str = "c"):
    """Augmented Dickey-Fuller; returns (stat, MacKinnon p-value)
    (``:209-242``). Regression of Δy_t on y_{t−1} and Δy lags. (nan, nan)
    when the regression has no residual degrees of freedom (no more
    observations than regressors), at any series length."""
    y = np.asarray(y, dtype=float)
    dy = np.diff(y)
    n = len(dy)
    n_obs = n - max_lag
    n_trend = {"c": 1, "ct": 2, "ctt": 3}.get(regression, 0)
    if n_obs <= 1 + max_lag + n_trend:
        return float("nan"), float("nan")
    # design: col0 = level y_{t-1}, cols 1..maxLag = Δy lags
    cols = [y[len(y) - n_obs - 1 : len(y) - 1][:, None]]
    for k in range(1, max_lag + 1):
        cols.append(dy[max_lag - k : n - k][:, None])
    X = np.column_stack(cols)
    target = dy[max_lag:]
    if regression != "nc":
        X = _add_trend(X, regression)
    coef, se, _ = _ols_with_se(X, target)
    stat = float(coef[0] / se[0])
    return stat, mackinnon_p(stat, regression, 1)


def kpss_test(y: np.ndarray, method: str = "c"):
    """KPSS level/trend stationarity; returns (stat, critical values)
    (``:369-394``), R tseries-compatible lag (3·√n/13) and Newey-West
    long-run variance (``:405-431``)."""
    if method not in ("c", "ct"):
        raise ValueError("method must be c or ct")
    y = np.asarray(y, dtype=float)
    n = len(y)
    if method == "c":
        resid = y - y.mean()
        crit = KPSS_CRITICAL_C
    else:
        t = np.arange(1.0, n + 1)
        X = np.column_stack([np.ones(n), t])
        coef, *_ = np.linalg.lstsq(X, y, rcond=None)
        resid = y - X @ coef
        crit = KPSS_CRITICAL_CT
    s2 = float((resid.cumsum() ** 2).sum())
    lag = int(3 * math.sqrt(n) / 13)
    # Newey-West long-run variance
    acc = 0.0
    for i in range(1, lag + 1):
        acc += float(resid[i:] @ resid[:-i]) * (1.0 - i / (lag + 1))
    long_run = (2.0 * acc + float(resid @ resid)) / n
    stat = (s2 / long_run) / (n * n)
    return stat, crit


def durbin_watson(resid: np.ndarray) -> float:
    """DW statistic (``:251-262``)."""
    resid = np.asarray(resid, dtype=float)
    return float(np.sum(np.diff(resid) ** 2) / np.sum(resid**2))


def autocorr_pearson(y: np.ndarray, num_lags: int) -> np.ndarray:
    """Sample autocorrelation as Pearson correlation of (y_{t+k}, y_t) pairs
    (``UnivariateTimeSeries.scala:66-96``)."""
    y = np.asarray(y, dtype=float)
    out = np.empty(num_lags)
    for k in range(1, num_lags + 1):
        a, b = y[k:], y[:-k]
        da, db = a - a.mean(), b - b.mean()
        out[k - 1] = float(da @ db / math.sqrt((da @ da) * (db @ db)))
    return out


def ljung_box(resid: np.ndarray, max_lag: int):
    """Ljung-Box; (stat, χ² p) (``:298-307``)."""
    resid = np.asarray(resid, dtype=float)
    n = len(resid)
    acf = autocorr_pearson(resid, max_lag)
    stat = n * (n + 2) * float(
        sum(p * p / (n - k - 1) for k, p in enumerate(acf))
    )
    return stat, chi2_sf(stat, max_lag)


def breusch_godfrey(resid: np.ndarray, factors: np.ndarray, max_lag: int):
    """BG serial-correlation test; (stat, χ² p) (``:276-288``)."""
    resid = np.asarray(resid, dtype=float)
    factors = np.atleast_2d(np.asarray(factors, dtype=float))
    if factors.shape[0] != len(resid):
        factors = factors.T
    n = len(resid)
    n_obs = n - max_lag
    lag_resids = np.column_stack(
        [resid[max_lag - k : n - k] for k in range(1, max_lag + 1)]
    )
    aux_X = np.column_stack([factors[max_lag:], lag_resids])
    stat = n_obs * _r_squared(aux_X, resid[max_lag:])
    return stat, chi2_sf(stat, max_lag)


def breusch_pagan(resid: np.ndarray, factors: np.ndarray):
    """BP heteroskedasticity test; (stat, χ² p) (``:320-329``)."""
    resid = np.asarray(resid, dtype=float)
    factors = np.atleast_2d(np.asarray(factors, dtype=float))
    if factors.shape[0] != len(resid):
        factors = factors.T
    stat = len(resid) * _r_squared(factors, resid**2)
    return stat, chi2_sf(stat, factors.shape[1])


def arch_lm(resid: np.ndarray, max_lag: int = 1):
    """Engle's ARCH-LM test (Engle 1982): regress e²_t on its own
    ``max_lag`` lags; LM = n_obs·R² ~ χ²(max_lag) under the no-ARCH null.
    Beyond-reference — the natural pre-test for the GARCH family the
    engine fits (``models/univariate.py``): fit GARCH when this rejects.
    (stat, χ² p). For ``max_lag=1`` the R² is exactly
    corr(e²_t, e²_{t−1})² — the identity the SQL oracle replays."""
    resid = np.asarray(resid, dtype=float)
    e2 = resid**2
    n_obs = len(e2) - max_lag
    if n_obs <= max_lag + 1:
        raise ValueError("series too short for the requested max_lag")
    lags = np.column_stack(
        [e2[max_lag - k : len(e2) - k] for k in range(1, max_lag + 1)]
    )
    stat = n_obs * _r_squared(lags, e2[max_lag:])
    return stat, chi2_sf(stat, max_lag)


def granger_causality(y: np.ndarray, x: np.ndarray, max_lag: int = 1):
    """Granger non-causality test: does x help forecast y beyond y's own
    history? F-test of the restricted AR(p) y_t ~ (1, y_{t−1..t−p})
    against the unrestricted y_t ~ (1, y lags, x lags) (Granger 1969).
    Returns (F, p) with the large-sample χ²(p) p-value of p·F — the
    asymptotic equivalence, used because the engine carries closed-form
    normal/χ² tails but no F CDF (documented, same convention class as
    KPSS's critical-value-only output). Beyond-reference. NaN cells are
    the CALLER's problem (align/fill first): the design matrices here
    must be dense."""
    y = np.asarray(y, dtype=float)
    x = np.asarray(x, dtype=float)
    if len(y) != len(x):
        raise ValueError("series must be conformed to the same length")
    p = int(max_lag)
    if p < 1:
        raise ValueError("max_lag must be >= 1")
    n_obs = len(y) - p
    if n_obs <= 2 * p + 1:
        raise ValueError("series too short for the requested max_lag")
    yy = y[p:]
    ylags = np.column_stack([y[p - k : len(y) - k] for k in range(1, p + 1)])
    xlags = np.column_stack([x[p - k : len(x) - k] for k in range(1, p + 1)])
    ones = np.ones((n_obs, 1))

    def rss(X):
        beta, *_ = np.linalg.lstsq(X, yy, rcond=None)
        r = yy - X @ beta
        return float(r @ r)

    rss_r = rss(np.hstack([ones, ylags]))
    rss_u = rss(np.hstack([ones, ylags, xlags]))
    f = ((rss_r - rss_u) / p) / (rss_u / (n_obs - 2 * p - 1))
    return f, chi2_sf(p * f, p)


# Asymptotic Engle-Granger cointegration critical values — two variables,
# constant-only case (MacKinnon 2010, "Critical Values for Cointegration
# Tests", Table 1, τ_c N=2, T→∞; quoted here rounded to two decimals).
# Plain ADF tables do NOT apply to a residual-based test — the first-step
# OLS biases the residual toward stationarity, so the bar is higher.
EG_CRITICAL_2V = {"1%": -3.90, "5%": -3.34, "10%": -3.04}


def engle_granger(y: np.ndarray, x: np.ndarray, max_lag: int = 0):
    """Engle-Granger two-step cointegration test (Engle & Granger 1987):
    OLS ``y = α + β·x`` (step 1), then an ADF regression WITHOUT
    deterministic terms on the residual (step 2 — the residual is
    mean-zero by construction, so the "nc" design is the standard
    choice). Returns (alpha, beta, adf_stat): compare the stat against
    :data:`EG_CRITICAL_2V` (MORE negative ⇒ reject no-cointegration).
    Beyond-reference — closes the loop the engine's ADF + VAR surface
    opens: two unit-root series with a stationary linear combination
    should be modeled in error-correction form, not differenced
    separately. NaN cells are the caller's problem (conform/fill
    first)."""
    y = np.asarray(y, dtype=float)
    x = np.asarray(x, dtype=float)
    if len(y) != len(x):
        raise ValueError("series must be conformed to the same length")
    if len(y) < max_lag + 4:
        raise ValueError("series too short for the requested max_lag")
    X = np.column_stack([np.ones(len(x)), x])
    coef, *_ = np.linalg.lstsq(X, y, rcond=None)
    resid = y - X @ coef
    stat, _ = adf_test(resid, max_lag, "nc")
    return float(coef[0]), float(coef[1]), float(stat)
