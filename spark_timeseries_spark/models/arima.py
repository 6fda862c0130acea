"""ARIMA(p,d,q) — conditional-sum-of-squares estimation, numpy only.

Reimplements the semantics of ``/root/reference/src/main/scala/com/cloudera/sparkts/models/ARIMA.scala``:

- order-d differencing + inverse (``UnivariateTimeSeries.scala:468-495``)
- Hannan-Rissanen initialization: long-AR residual proxy, then OLS on
  [y-lags, e-lags] (``ARIMA.scala:216-242``)
- CSS log-likelihood with recursive innovation filtering
  (``ARIMA.scala:417-445``), maximized from the HR start with Nelder-Mead
  (the reference offers BOBYQA and CG-with-analytic-gradient; the simplex
  reaches the same ±0.05 tolerance band its own tests assert,
  ``ARIMASuite.scala:39-55``)
- stationarity/invertibility checks via companion polynomial roots
  (``ARIMA.scala:381-399``: |roots| of 1 − φ₁z − ... must exceed 1)
- ``forecast`` with inverse differencing (``ARIMA.scala:696-764``)
- ``auto_fit`` — Hyndman-Khandakar-style stepwise search: d chosen by
  repeated KPSS, then local (p,q) moves minimizing approximate AIC
  (``ARIMA.scala:280-375``, ``approxAIC`` ``:826-830``).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from ._numeric import nelder_mead, ols
from .univariate import lag_matrix


def difference(y: np.ndarray, d: int) -> np.ndarray:
    for _ in range(d):
        y = np.diff(y)
    return y


def inverse_difference(dy: np.ndarray, heads: list[np.ndarray]) -> np.ndarray:
    """Invert order-d differencing given the stack of pre-difference leading
    values captured at each level."""
    out = dy
    for head in reversed(heads):
        out = np.concatenate([[head], out]).cumsum()
    return out


def _css_residuals(
    dy: np.ndarray, c: float, ar: np.ndarray, ma: np.ndarray
) -> np.ndarray:
    """Zero-init CSS innovations e_t = dy_t − c − Σφᵢdy_{t−i} − Σθⱼe_{t−j}.

    The AR part is vectorized (shifted-array subtraction); only the MA
    feedback needs a sequential scan, and that loop carries q scalar ops per
    step. This sits in the innermost optimizer loop — the fully nested-loop
    form cost ~0.9 s per 7k-eval fit and dominated distributed model stages.
    """
    n = len(dy)
    p, q = len(ar), len(ma)
    u = dy - c
    for i in range(1, p + 1):
        u[i:] -= ar[i - 1] * dy[:-i]
    if q == 0:
        return u
    e = np.zeros(n)
    # plain-float lists in the scan: np.float64 scalar indexing/arithmetic
    # costs ~10× a float op with identical IEEE results; this loop runs once
    # per optimizer eval
    ul = u.tolist()
    if q == 1:
        th = float(ma[0])
        prev = 0.0
        el = e.tolist()
        for t in range(n):
            prev = ul[t] - th * prev
            el[t] = prev
        return np.asarray(el)
    ml = [float(v) for v in ma]
    el = e.tolist()
    for t in range(n):
        acc = ul[t]
        for j in range(1, min(q, t) + 1):
            acc -= ml[j - 1] * el[t - j]
        el[t] = acc
    return np.asarray(el)


@dataclass
class ARIMAModel:
    p: int
    d: int
    q: int
    coefficients: np.ndarray  # [c, ar_1..ar_p, ma_1..ma_q]
    has_intercept: bool = True

    @property
    def c(self) -> float:
        return float(self.coefficients[0]) if self.has_intercept else 0.0

    @property
    def ar(self) -> np.ndarray:
        s = 1 if self.has_intercept else 0
        return self.coefficients[s : s + self.p]

    @property
    def ma(self) -> np.ndarray:
        s = (1 if self.has_intercept else 0) + self.p
        return self.coefficients[s : s + self.q]

    # -- CSS machinery -----------------------------------------------------
    def _residuals(self, dy: np.ndarray) -> np.ndarray:
        """Recursive innovations on the differenced series (zero-init)."""
        return _css_residuals(dy, self.c, self.ar, self.ma)

    def log_likelihood_css(self, y: np.ndarray) -> float:
        dy = difference(np.asarray(y, dtype=float), self.d)
        e = self._residuals(dy)
        n = len(dy) - self.p  # condition on the first p observations
        err = e[self.p :]
        css = float(err @ err)
        if css <= 0 or n <= 0:
            return -np.inf
        sigma2 = css / n
        return -0.5 * n * (np.log(2 * np.pi * sigma2) + 1.0)

    def approx_aic(self, y: np.ndarray) -> float:
        k = len(self.coefficients) + 1  # + sigma2
        return -2.0 * self.log_likelihood_css(y) + 2.0 * k

    def is_stationary(self) -> bool:
        return _roots_outside_unit(self.ar)

    def is_invertible(self) -> bool:
        return _roots_outside_unit(-self.ma)

    # -- transforms --------------------------------------------------------
    def remove_effects(self, y: np.ndarray) -> np.ndarray:
        dy = difference(np.asarray(y, dtype=float), self.d)
        return self._residuals(dy)

    def add_effects(self, e: np.ndarray, heads=None) -> np.ndarray:
        """Innovations → series on the differenced scale (inverse filter);
        pass ``heads`` (leading values per difference level) to integrate."""
        e = np.asarray(e, dtype=float)
        c, ar, ma = self.c, self.ar, self.ma
        n = len(e)
        dy = np.zeros(n)
        for t in range(n):
            v = c + e[t]
            for i in range(1, self.p + 1):
                if t - i >= 0:
                    v += ar[i - 1] * dy[t - i]
            for j in range(1, self.q + 1):
                if t - j >= 0:
                    v += ma[j - 1] * e[t - j]
            dy[t] = v
        if heads:
            return inverse_difference(dy, heads)
        return dy

    def forecast(self, y: np.ndarray, h: int) -> np.ndarray:
        """h-step-ahead point forecasts continuing the observed series."""
        y = np.asarray(y, dtype=float)
        heads = []
        dy = y
        for _ in range(self.d):
            heads.append(dy[0])
            dy = np.diff(dy)
        e = self._residuals(dy)
        hist = list(dy)
        errs = list(e)
        out = []
        for _ in range(h):
            t = len(hist)
            v = self.c
            for i in range(1, self.p + 1):
                if t - i >= 0:
                    v += self.ar[i - 1] * hist[t - i]
            for j in range(1, self.q + 1):
                if t - j >= 0:
                    v += self.ma[j - 1] * errs[t - j]
            hist.append(v)
            errs.append(0.0)
            out.append(v)
        # integrate the forecast path: prepend observed tail at each level
        fc = np.array(out)
        for lev in range(self.d - 1, -1, -1):
            base = y
            for _ in range(lev):
                base = np.diff(base)
            fc = base[-1] + fc.cumsum()
        return fc

    def sample(self, n: int, rng: np.random.Generator) -> np.ndarray:
        e = rng.standard_normal(n)
        dy = self.add_effects(e)
        heads = [0.0] * self.d
        return inverse_difference(dy, [np.array(h) for h in heads]) if self.d else dy


def _roots_outside_unit(coeffs: np.ndarray) -> bool:
    """True iff all roots of 1 − c₁z − c₂z² − ... lie outside the unit
    circle (``ARIMA.scala:777-815``)."""
    if len(coeffs) == 0:
        return True
    poly = np.concatenate([[1.0], -np.asarray(coeffs, dtype=float)])
    roots = np.roots(poly[::-1])  # numpy expects highest degree first
    return bool(np.all(np.abs(roots) > 1.0 + 1e-9)) if len(roots) else True


def hannan_rissanen(dy: np.ndarray, p: int, q: int, intercept: bool) -> np.ndarray:
    """HR initialization (``ARIMA.scala:216-242``): residuals from a long AR,
    then OLS of y on its own lags and lagged residuals."""
    m = max(p, q)
    long_lag = max(m + 5, int(np.ceil(np.log(len(dy)) * 2)))
    long_lag = min(long_lag, max(1, len(dy) // 4))
    coef = ols(lag_matrix(dy, long_lag), dy[long_lag:], intercept=True)
    fitted = coef[0] + lag_matrix(dy, long_lag) @ coef[1:]
    e = np.concatenate([np.zeros(long_lag), dy[long_lag:] - fitted])
    cols = []
    n = len(dy)
    for i in range(1, p + 1):
        cols.append(dy[m - i : n - i])
    for j in range(1, q + 1):
        cols.append(e[m - j : n - j])
    X = np.column_stack(cols) if cols else np.empty((n - m, 0))
    beta = ols(X, dy[m:], intercept=intercept)
    if not intercept:
        beta = np.asarray(beta)
    return beta


def arima_start(
    y: np.ndarray, p: int, d: int, q: int, include_intercept: bool = True
) -> np.ndarray:
    """The deterministic optimizer start of :func:`fit_arima`: Hannan-Rissanen
    on the order-``d`` differenced series."""
    return hannan_rissanen(
        difference(np.asarray(y, dtype=float), d), p, q, include_intercept
    )


def fit_arima(
    y: np.ndarray,
    p: int,
    d: int,
    q: int,
    include_intercept: bool = True,
    init_params: np.ndarray | None = None,
) -> ARIMAModel:
    """CSS fit from a Hannan-Rissanen start (``ARIMA.scala:79-160``)."""
    y = np.asarray(y, dtype=float)
    dy = difference(y, d)
    if p == 0 and q == 0:
        c = np.array([dy.mean()]) if include_intercept else np.array([])
        return ARIMAModel(p, d, q, c, include_intercept)
    if init_params is not None:
        x0 = np.asarray(init_params, dtype=float)
    else:
        x0 = arima_start(y, p, d, q, include_intercept)

    # objective on the precomputed differenced series; coefficient layout
    # matches ARIMAModel ([c?, ar_1..p, ma_1..q])
    s = 1 if include_intercept else 0
    n_cond = len(dy) - p
    log2pi = np.log(2 * np.pi)

    def neg_ll(params):
        c = float(params[0]) if include_intercept else 0.0
        e = _css_residuals(dy, c, params[s : s + p], params[s + p :])
        err = e[p:]
        css = float(err @ err)
        if css <= 0 or n_cond <= 0:
            return np.inf
        return 0.5 * n_cond * (np.log(css / n_cond) + log2pi + 1.0)

    # tol 1e-8 on the simplex spread reaches the reference's own ±0.05
    # parameter tolerance (ARIMASuite.scala:39-55); the previous 1e-10/4000
    # budget made flat-likelihood series burn ~7000 evals for noise-level
    # movement
    x = nelder_mead(neg_ll, x0, step=0.05, max_iter=1500, tol=1e-8)
    return ARIMAModel(p, d, q, x, include_intercept)


def auto_start(y: np.ndarray, max_d: int = 2) -> ARIMAModel:
    """ARIMA(0, d, 0) with d chosen by repeated KPSS at 5%: the order
    :func:`auto_fit` searches at and the simplest candidate it scores, so
    its result never has a worse approximate AIC."""
    from ..stats.tests import kpss_test

    d = 0
    work = np.asarray(y, dtype=float)
    while d < max_d:
        stat, crits = kpss_test(work, "c")
        if stat < crits["5%"]:
            break
        work = np.diff(work)
        d += 1
    return fit_arima(y, 0, d, 0, include_intercept=d == 0)


def auto_fit(y: np.ndarray, max_p: int = 5, max_d: int = 2, max_q: int = 5) -> ARIMAModel:
    """Stepwise Hyndman-Khandakar search (``ARIMA.scala:280-375``):
    d by repeated KPSS at 5%, then greedy ±1 moves on (p,q) by approx AIC."""
    y = np.asarray(y, dtype=float)
    d = auto_start(y, max_d).d

    def safe_fit(p, q):
        try:
            m = fit_arima(y, p, d, q, include_intercept=d == 0)
            return m, m.approx_aic(y)
        except Exception:
            return None, np.inf

    candidates = [(2, 2), (0, 0), (1, 0), (0, 1)]
    best, best_aic = None, np.inf
    seen = set()
    for p0, q0 in candidates:
        if (p0, q0) in seen:
            continue
        seen.add((p0, q0))
        m, aic = safe_fit(p0, q0)
        if aic < best_aic:
            best, best_aic = m, aic
    improved = True
    while improved and best is not None:
        improved = False
        for dp, dq in ((1, 0), (-1, 0), (0, 1), (0, -1), (1, 1), (-1, -1)):
            p2, q2 = best.p + dp, best.q + dq
            if not (0 <= p2 <= max_p and 0 <= q2 <= max_q) or (p2, q2) in seen:
                continue
            seen.add((p2, q2))
            m, aic = safe_fit(p2, q2)
            if aic < best_aic - 1e-9:
                best, best_aic = m, aic
                improved = True
    return best
