"""Univariate per-series models: AR(p), EWMA, GARCH(1,1), AR(1)+GARCH(1,1),
Holt-Winters. numpy reimplementations with the reference's semantics:

- AR — OLS on the lag matrix (``models/Autoregression.scala:24-95``).
- EWMA — S_t = α·X_t + (1−α)·S_{t−1}, S_0 = X_0; α fit by minimizing the
  one-step-ahead SSE with the analytic gradient, conjugate gradient
  (``models/EWMA.scala:45-143``).
- GARCH(1,1) — Bollerslev conditional-variance recursion with
  h_0 = ω/(1−α−β); log-likelihood + analytic gradient, CG
  (``models/GARCH.scala:75-162``).
- ARGARCH — AR(1) mean + GARCH(1,1) on residuals (``models/GARCH.scala:56-69``).
- Holt-Winters — additive/multiplicative triple smoothing with the
  R-stats-style init (2-period convolution trend + regression), (α,β,γ)
  chosen by simplex search over [0,1]³ minimizing SSE from ``period`` on
  (``models/HoltWinters.scala:58-325``).

The "model" is a small dataclass; distributed use goes through
``models.fit`` (grouped-map pandas UDFs).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np

from ._numeric import minimize_cg, nelder_mead, ols

#: E|Z| for standard normal Z — the centering constant in EGARCH's |z| term.
_EABS_NORMAL = math.sqrt(2.0 / math.pi)


# ---------------------------------------------------------------------------
# AR(p)
# ---------------------------------------------------------------------------

def lag_matrix(y: np.ndarray, max_lag: int) -> np.ndarray:
    """Trimmed lag matrix: row t has [y_{t-1}, ..., y_{t-max_lag}] for
    t = max_lag..n-1 (cf. ``Lag.lagMatTrimBoth``, ``Lag.scala:20-130``)."""
    n = len(y)
    return np.column_stack([y[max_lag - k : n - k] for k in range(1, max_lag + 1)])


@dataclass
class ARModel:
    c: float
    coefficients: np.ndarray

    @property
    def p(self) -> int:
        return len(self.coefficients)

    def remove_effects(self, y: np.ndarray) -> np.ndarray:
        """Series → residuals (``Autoregression.scala:60-76``)."""
        y = np.asarray(y, dtype=float)
        out = y - self.c
        for j, phi in enumerate(self.coefficients, start=1):
            out[j:] -= phi * y[:-j]
        return out

    def add_effects(self, resid: np.ndarray) -> np.ndarray:
        resid = np.asarray(resid, dtype=float)
        out = np.empty_like(resid)
        for i in range(len(resid)):
            v = self.c + resid[i]
            for j, phi in enumerate(self.coefficients, start=1):
                if i - j >= 0:
                    v += out[i - j] * phi
            out[i] = v
        return out

    def forecast(self, y: np.ndarray, h: int) -> np.ndarray:
        hist = list(np.asarray(y, dtype=float))
        out = []
        for _ in range(h):
            v = self.c + sum(
                phi * hist[-j] for j, phi in enumerate(self.coefficients, start=1)
            )
            out.append(v)
            hist.append(v)
        return np.array(out)

    def sample(self, n: int, rng: np.random.Generator) -> np.ndarray:
        return self.add_effects(rng.standard_normal(n))


def fit_ar(y: np.ndarray, max_lag: int = 1, no_intercept: bool = False) -> ARModel:
    y = np.asarray(y, dtype=float)
    Y = y[max_lag:]
    X = lag_matrix(y, max_lag)
    coef = ols(X, Y, intercept=not no_intercept)
    if no_intercept:
        return ARModel(0.0, coef)
    return ARModel(float(coef[0]), coef[1:])


# ---------------------------------------------------------------------------
# EWMA
# ---------------------------------------------------------------------------

@dataclass
class EWMAModel:
    smoothing: float

    def add_effects(self, y: np.ndarray) -> np.ndarray:
        """X → smoothed S (S_0 = X_0)."""
        y = np.asarray(y, dtype=float)
        a = self.smoothing
        out = np.empty_like(y)
        out[0] = y[0]
        for i in range(1, len(y)):
            out[i] = a * y[i] + (1 - a) * out[i - 1]
        return out

    def remove_effects(self, s: np.ndarray) -> np.ndarray:
        """Inverse filter (``EWMA.scala:125-134``)."""
        s = np.asarray(s, dtype=float)
        out = np.empty_like(s)
        out[0] = s[0]
        out[1:] = (s[1:] - (1 - self.smoothing) * s[:-1]) / self.smoothing
        return out

    def sse(self, y: np.ndarray) -> float:
        """One-step-ahead SSE: prediction for X_{t+1} is S_t."""
        s = self.add_effects(y)
        err = y[1:] - s[:-1]
        return float(err @ err)

    def gradient(self, y: np.ndarray) -> float:
        a = self.smoothing
        s = self.add_effects(y)
        d = 0.0
        prev_s = y[0]
        prev_ds = 0.0
        total = 0.0
        for i in range(len(y) - 1):
            err = y[i + 1] - s[i]
            d = y[i] - prev_s + (1 - a) * prev_ds
            total += err * d
            prev_ds = d
            prev_s = s[i]
        return 2.0 * total

    def forecast(self, y: np.ndarray, h: int) -> np.ndarray:
        """Flat forecast at the last smoothed level."""
        return np.full(h, self.add_effects(y)[-1])


def fit_ewma_grid(y: np.ndarray, steps: int = 100) -> tuple[float, float]:
    """Exhaustive-grid EWMA fit: α ∈ {1/steps, …, (steps−1)/steps} minimizing
    the one-step-ahead SSE; ties break to the smallest α. Deterministic
    (same SSE recursion as :meth:`EWMAModel.sse`, evaluated in time order) —
    the variant the correctness oracle replays with a recursive CTE. The
    continuous CG fit (:func:`fit_ewma`) refines within ±1/steps of this."""
    y = np.asarray(y, dtype=float)
    alphas = np.arange(1, steps) / float(steps)
    s = np.full(len(alphas), y[0])
    sse = np.zeros(len(alphas))
    for t in range(1, len(y)):
        err = y[t] - s
        sse += err * err
        s = alphas * y[t] + (1 - alphas) * s
    i = int(np.argmin(sse))
    return float(alphas[i]), float(sse[i])


def ewma_start() -> EWMAModel:
    """The deterministic optimizer start of :func:`fit_ewma`."""
    return EWMAModel(0.94)


def fit_ewma(y: np.ndarray) -> EWMAModel:
    y = np.asarray(y, dtype=float)
    clip = lambda p: float(np.clip(p[0], 1e-6, 1.0))
    x = minimize_cg(
        lambda p: EWMAModel(clip(p)).sse(y),
        lambda p: np.array([EWMAModel(clip(p)).gradient(y)]),
        np.array([ewma_start().smoothing]),
        variant="fletcher-reeves",
    )
    return EWMAModel(clip(x))


# ---------------------------------------------------------------------------
# GARCH(1,1)
# ---------------------------------------------------------------------------

@dataclass
class GARCHModel:
    omega: float
    alpha: float
    beta: float

    def _variances(self, eta: np.ndarray) -> np.ndarray:
        """h_t for t=1..n-1 with h_0 = ω/(1−α−β)."""
        n = len(eta)
        h = np.empty(n)
        h[0] = self.omega / (1 - self.alpha - self.beta)
        for i in range(1, n):
            h[i] = self.omega + self.alpha * eta[i - 1] ** 2 + self.beta * h[i - 1]
        return h

    def log_likelihood(self, eta: np.ndarray) -> float:
        eta = np.asarray(eta, dtype=float)
        h = self._variances(eta)
        ll = -0.5 * np.sum(np.log(h[1:]) + eta[1:] ** 2 / h[1:])
        return float(ll - 0.5 * np.log(2 * np.pi) * (len(eta) - 1))

    def gradient(self, eta: np.ndarray) -> np.ndarray:
        """d ll / d(α, β, ω) via the recursive dh/dθ accumulators
        (semantics of ``GARCH.scala:96-115``)."""
        eta = np.asarray(eta, dtype=float)
        h = self._variances(eta)
        og = ag = bg = 0.0
        o_dh = a_dh = b_dh = 0.0
        for i in range(1, len(eta)):
            o_dh = 1 + self.beta * o_dh
            a_dh = eta[i - 1] ** 2 + self.beta * a_dh
            b_dh = h[i - 1] + self.beta * b_dh
            mult = eta[i] ** 2 / h[i] ** 2 - 1.0 / h[i]
            og += mult * o_dh
            ag += mult * a_dh
            bg += mult * b_dh
        return np.array([ag * 0.5, bg * 0.5, og * 0.5])

    def remove_effects(self, eta: np.ndarray) -> np.ndarray:
        """Standardize residuals by conditional volatility."""
        eta = np.asarray(eta, dtype=float)
        h = self._variances(eta)
        return eta / np.sqrt(h)

    def variance_forecast(self, eta: np.ndarray, horizon: int) -> np.ndarray:
        """h-step conditional-variance forecast — the quantity a GARCH user
        wants (the mean forecast is 0): one more recursion step from the
        observed tail, then the stationary contraction
        h_{t+k} = ω + (α+β)·h_{t+k−1} (``GARCH.scala:198-259`` shape)."""
        eta = np.asarray(eta, dtype=float)
        h = self._variances(eta)
        out = np.empty(horizon)
        prev = self.omega + self.alpha * eta[-1] ** 2 + self.beta * h[-1]
        out[0] = prev
        for k in range(1, horizon):
            prev = self.omega + (self.alpha + self.beta) * prev
            out[k] = prev
        return out

    def forecast(self, eta: np.ndarray, h: int) -> np.ndarray:
        """The mean forecast of a pure GARCH process is 0; the conditional
        variance path is :meth:`variance_forecast`."""
        return np.zeros(h)

    def add_effects(self, z: np.ndarray) -> np.ndarray:
        z = np.asarray(z, dtype=float)
        out = np.empty_like(z)
        prev_var = self.omega / (1 - self.alpha - self.beta)
        prev_eta = z[0] * np.sqrt(prev_var)
        out[0] = prev_eta
        for i in range(1, len(z)):
            var = self.omega + self.alpha * prev_eta**2 + self.beta * prev_var
            out[i] = z[i] * np.sqrt(var)
            prev_eta = out[i]
            prev_var = var
        return out

    def sample(self, n: int, rng: np.random.Generator) -> np.ndarray:
        return self.add_effects(rng.standard_normal(n))


def garch_start(eta: np.ndarray) -> GARCHModel:
    """The deterministic optimizer start of :func:`fit_garch`."""
    var = float(np.var(np.asarray(eta, dtype=float))) or 1.0
    return GARCHModel(var * 0.1, 0.1, 0.8)


def fit_garch(eta: np.ndarray) -> GARCHModel:
    """Maximize the Bollerslev likelihood by CG on (α, β, ω)."""
    eta = np.asarray(eta, dtype=float)
    s = garch_start(eta)

    def unpack(p):
        a = float(np.clip(p[0], 1e-6, 0.97))
        b = float(np.clip(p[1], 1e-6, 0.97 - a + 1e-6))
        w = float(max(p[2], 1e-10))
        return GARCHModel(w, a, b)

    f = lambda p: -unpack(p).log_likelihood(eta)
    g = lambda p: -unpack(p).gradient(eta)
    x = minimize_cg(
        f, g, np.array([s.alpha, s.beta, s.omega]), variant="fletcher-reeves"
    )
    x = nelder_mead(
        f, x, bounds=[(1e-6, 0.97), (1e-6, 0.97), (1e-10, None)], step=0.05
    )
    return unpack(x)


@dataclass
class EGARCHModel:
    """EGARCH(1,1), Nelson (1991):
    ln h_t = ω + α(|z_{t−1}| − √(2/π)) + γ·z_{t−1} + β·ln h_{t−1},
    z_t = η_t/√h_t, ln h_0 = ω/(1−β) (unconditional mean of the shock-free
    recursion). The reference declares EGARCH but its fit/filter methods
    throw (``GARCH.scala:262-283``) — this is a real implementation, kept
    API-compatible with :class:`GARCHModel` (log-likelihood, standardize,
    simulate, variance forecast)."""

    omega: float
    alpha: float
    gamma: float
    beta: float

    _EABS = _EABS_NORMAL

    def _log_variances(self, eta: np.ndarray) -> np.ndarray:
        n = len(eta)
        lh = np.empty(n)
        # clamp ln h to ±50 (h ∈ [e⁻⁵⁰, e⁵⁰]): wild optimizer iterates would
        # otherwise overflow exp(); the clamp is deterministic, so both the
        # fitted and start objectives in certificates see the same surface.
        # Scalar math.* and a plain-float input list here: this recursion is
        # the innermost loop of every likelihood eval, and numpy scalar
        # ufuncs cost ~10× a libm call. add_effects/remove_effects use the
        # same scalar form so the recursions see identical per-step floats
        # (numpy's vectorized exp differs from libm in the last ulp).
        om, al, ga, be, ea = self.omega, self.alpha, self.gamma, self.beta, self._EABS
        prev = min(max(om / (1.0 - be), -50.0), 50.0)
        lh[0] = prev
        el = np.asarray(eta, dtype=float).tolist()
        _exp, _sqrt = math.exp, math.sqrt
        for t in range(1, n):
            z = el[t - 1] / _sqrt(_exp(prev))
            v = om + al * (abs(z) - ea) + ga * z + be * prev
            prev = -50.0 if v < -50.0 else (50.0 if v > 50.0 else v)
            lh[t] = prev
        return lh

    def log_likelihood(self, eta: np.ndarray) -> float:
        eta = np.asarray(eta, dtype=float)
        lh = self._log_variances(eta)
        ll = -0.5 * np.sum(lh[1:] + eta[1:] ** 2 / np.exp(lh[1:]))
        return float(ll - 0.5 * np.log(2 * np.pi) * (len(eta) - 1))

    def remove_effects(self, eta: np.ndarray) -> np.ndarray:
        eta = np.asarray(eta, dtype=float)
        lh = self._log_variances(eta)
        # scalar math.sqrt/math.exp, NOT np vectorized: numpy's SIMD exp
        # kernel differs from libm in the last ulp on ~1/4 of inputs, which
        # would add systematic noise on top of the inherent (x/s)*s
        # round-trip rounding (add_effects scales with the scalar form)
        scale = np.array([math.sqrt(math.exp(v)) for v in lh.tolist()])
        return eta / scale

    def add_effects(self, z: np.ndarray) -> np.ndarray:
        z = np.asarray(z, dtype=float)
        out = np.empty_like(z)
        # same ±50 clamp and scalar `sqrt(exp(.))` as _log_variances so
        # add∘remove inverts to within division/multiply rounding (~1 ulp)
        om, al, ga, be, ea = self.omega, self.alpha, self.gamma, self.beta, self._EABS
        _exp, _sqrt = math.exp, math.sqrt
        lh = min(max(om / (1.0 - be), -50.0), 50.0)
        zl = z.tolist()
        out[0] = zl[0] * _sqrt(_exp(lh))
        for t in range(1, len(zl)):
            v = om + al * (abs(zl[t - 1]) - ea) + ga * zl[t - 1] + be * lh
            lh = -50.0 if v < -50.0 else (50.0 if v > 50.0 else v)
            out[t] = zl[t] * _sqrt(_exp(lh))
        return out

    def variance_forecast(self, eta: np.ndarray, horizon: int) -> np.ndarray:
        """E[ln h] path: shock terms have zero mean under the fitted law, so
        ln h_{t+k} = ω + β·ln h_{t+k−1} (exact for k=1, the standard
        log-variance approximation beyond)."""
        eta = np.asarray(eta, dtype=float)
        lh = self._log_variances(eta)
        z_last = eta[-1] / np.sqrt(np.exp(lh[-1]))
        cur = (
            self.omega
            + self.alpha * (abs(z_last) - self._EABS)
            + self.gamma * z_last
            + self.beta * lh[-1]
        )
        out = np.empty(horizon)
        out[0] = np.exp(cur)
        for k in range(1, horizon):
            cur = self.omega + self.beta * cur
            out[k] = np.exp(cur)
        return out

    def sample(self, n: int, rng: np.random.Generator) -> np.ndarray:
        return self.add_effects(rng.standard_normal(n))


def fit_egarch(eta: np.ndarray) -> EGARCHModel:
    """Nelder-Mead maximum likelihood from the standard start
    (ω centered on the sample variance, mild ARCH, no leverage, β = 0.9)."""
    eta = np.asarray(eta, dtype=float)

    def unpack(p):
        b = float(p[3])
        return EGARCHModel(
            float(p[0]),
            float(p[1]),
            float(p[2]),
            -0.999 if b < -0.999 else (0.999 if b > 0.999 else b),
        )

    s = egarch_start(eta)
    x0 = np.array([s.omega, s.alpha, s.gamma, s.beta])
    x = nelder_mead(
        lambda p: -unpack(p).log_likelihood(eta), x0, step=0.1,
        max_iter=800, tol=1e-8,
    )
    return unpack(x)


def egarch_start(eta: np.ndarray) -> EGARCHModel:
    """The deterministic optimizer start of :func:`fit_egarch` — exposed for
    fit-improvement certificates."""
    var = float(np.var(np.asarray(eta, dtype=float))) or 1.0
    return EGARCHModel(0.1 * np.log(var), 0.1, 0.0, 0.9)


@dataclass
class ARGARCHModel:
    """AR(1) mean + GARCH(1,1) innovations (``GARCH.scala:56-69,198-259``)."""

    c: float
    phi: float
    garch: GARCHModel

    def remove_effects(self, y: np.ndarray) -> np.ndarray:
        resid = ARModel(self.c, np.array([self.phi])).remove_effects(y)
        return self.garch.remove_effects(resid)

    def innovations(self, y: np.ndarray) -> np.ndarray:
        """The AR(1) residuals the GARCH part is fitted on."""
        return _ar1_innovations(self.c, self.phi, y)

    def variance_forecast(self, y: np.ndarray, horizon: int) -> np.ndarray:
        return self.garch.variance_forecast(self.innovations(y), horizon)

    def add_effects(self, z: np.ndarray) -> np.ndarray:
        eta = self.garch.add_effects(z)
        return ARModel(self.c, np.array([self.phi])).add_effects(eta)

    def sample(self, n: int, rng: np.random.Generator) -> np.ndarray:
        return self.add_effects(rng.standard_normal(n))


def _ar1_innovations(c: float, phi: float, y: np.ndarray) -> np.ndarray:
    resid = ARModel(c, np.array([phi])).remove_effects(y)
    resid[0] = 0.0  # first residual lacks its lag term
    return resid


def ar_garch_start(y: np.ndarray) -> ARGARCHModel:
    """The deterministic start of :func:`fit_ar_garch`: the (exact) AR(1)
    OLS fit and :func:`garch_start` on its innovations."""
    ar = fit_ar(y, 1)
    c, phi = ar.c, float(ar.coefficients[0])
    return ARGARCHModel(c, phi, garch_start(_ar1_innovations(c, phi, y)))


def fit_ar_garch(y: np.ndarray) -> ARGARCHModel:
    s = ar_garch_start(y)
    return ARGARCHModel(s.c, s.phi, fit_garch(s.innovations(y)))


# ---------------------------------------------------------------------------
# Holt-Winters
# ---------------------------------------------------------------------------

@dataclass
class HoltWintersModel:
    period: int
    alpha: float
    beta: float
    gamma: float
    model_type: str = "additive"  # or "multiplicative"
    sse_: float = field(default=float("nan"))

    @property
    def additive(self) -> bool:
        return self.model_type.lower().startswith("add")

    def _init(self, y: np.ndarray):
        """R-style init: centered-MA trend over two periods, de-trended
        seasonal means, regression level/trend
        (``HoltWinters.scala:266-324``)."""
        p = self.period
        if p % 2 == 0:
            kernel = np.full(p + 1, 1.0 / p)
            kernel[0] = kernel[-1] = 0.5 / p
        else:
            kernel = np.full(p, 1.0 / p)
        window = y[: 2 * p]
        trend = np.convolve(window, kernel[::-1], mode="valid")
        npad = (len(kernel) - 1) // 2
        padded = np.concatenate([np.zeros(npad), trend, np.zeros(npad)])
        with np.errstate(divide="ignore", invalid="ignore"):
            detr = np.where(
                padded != 0,
                (window - padded) if self.additive else (window / padded),
                0.0,
            )
        first, second = detr[:p], detr[p : 2 * p]
        seasonal_mean = np.where(
            (first == 0) | (second == 0), first + second, (first + second) / 2.0
        )
        mean_fig = seasonal_mean.sum() / p
        init_season = (
            seasonal_mean - mean_fig if self.additive else seasonal_mean / mean_fig
        )
        idx = np.arange(1, len(trend) + 1, dtype=float)
        xbar, ybar = idx.mean(), trend.mean()
        slope = ((idx - xbar) @ (trend - ybar)) / ((idx - xbar) @ (idx - xbar))
        level0 = ybar - slope * xbar
        return level0, slope, init_season

    def components(self, y: np.ndarray, init_state=None):
        """(fitted, level, trend, season) recurrences
        (``HoltWinters.scala:180-226``). ``init_state`` lets a fitting loop
        precompute the (α,β,γ)-independent ``_init`` once per series."""
        y = np.asarray(y, dtype=float)
        n, p = len(y), self.period
        a, b, g = self.alpha, self.beta, self.gamma
        fitted = np.zeros(n)
        level = np.zeros(n)
        trend = np.zeros(n)
        season = np.zeros(n)
        l0, t0, s0 = init_state if init_state is not None else self._init(y)
        level[0], trend[0] = l0, t0
        season[: len(s0)] = s0
        for i in range(n - p):
            base = level[i] + trend[i]
            fitted[i + p] = base + season[i] if self.additive else base * season[i]
            lw = y[i + p] - season[i] if self.additive else y[i + p] / season[i]
            level[i + 1] = a * lw + (1 - a) * (level[i] + trend[i])
            trend[i + 1] = b * (level[i + 1] - level[i]) + (1 - b) * trend[i]
            sw = (
                y[i + p] - level[i + 1] if self.additive else y[i + p] / level[i + 1]
            )
            season[i + p] = g * sw + (1 - g) * season[i]
        return fitted, level, trend, season

    def sse(self, y: np.ndarray, init_state=None) -> float:
        fitted, *_ = self.components(y, init_state)
        err = y[self.period :] - fitted[self.period :]
        return float(err @ err)

    def add_effects(self, y: np.ndarray) -> np.ndarray:
        return self.components(y)[0]

    def forecast(self, y: np.ndarray, h: int) -> np.ndarray:
        """h-step forecast from final level/trend/season
        (``HoltWinters.scala:146-168``)."""
        y = np.asarray(y, dtype=float)
        n, p = len(y), self.period
        _, level, trend, season = self.components(y)
        fl, ft = level[n - p], trend[n - p]
        fs = season[n - p : n]
        i = np.arange(h)
        base = fl + (i + 1) * ft
        seas = fs[i % p]
        return base + seas if self.additive else base * seas


def holt_winters_start(period: int, model_type: str = "additive") -> HoltWintersModel:
    """The deterministic optimizer start of :func:`fit_holt_winters`."""
    return HoltWintersModel(period, 0.3, 0.1, 0.1, model_type)


def fit_holt_winters(
    y: np.ndarray, period: int, model_type: str = "additive"
) -> HoltWintersModel:
    y = np.asarray(y, dtype=float)
    # the init recurrence seeds (level/trend/seasonals) depend only on the
    # data, not on (α,β,γ) — compute once, not per optimizer evaluation
    init_state = HoltWintersModel(period, 0.0, 0.0, 0.0, model_type)._init(y)

    def f(p):
        return HoltWintersModel(period, p[0], p[1], p[2], model_type).sse(
            y, init_state
        )

    s = holt_winters_start(period, model_type)
    x = nelder_mead(
        f, np.array([s.alpha, s.beta, s.gamma]), bounds=[(0.0, 1.0)] * 3,
        step=0.2, max_iter=250, tol=1e-7,
    )
    m = HoltWintersModel(period, float(x[0]), float(x[1]), float(x[2]), model_type)
    m.sse_ = m.sse(y)
    return m
