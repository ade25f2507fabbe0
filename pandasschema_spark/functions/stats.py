"""Driver-side statistics in pure numpy (scipy is absent in this env —
SURVEY.md environment facts). Used by operators.drift after Spark has
reduced the data to tiny histogram aggregates.

Implementations are the standard published algorithms:
- regularized incomplete gamma via series / continued fraction
  (Numerical Recipes 6.2 'gammp'/'gammq' formulation, public)
- Kolmogorov asymptotic survival function Q(lambda) =
  2 * sum_{k>=1} (-1)^{k-1} exp(-2 k^2 lambda^2)
"""

from __future__ import annotations

import math

import numpy as np

_MAX_ITER = 500
_EPS = 3.0e-12


def _gamma_series(a: float, x: float) -> float:
    """Lower regularized incomplete gamma P(a, x) by series; for x < a+1."""
    if x <= 0:
        return 0.0
    gln = math.lgamma(a)
    ap = a
    s = 1.0 / a
    delta = s
    for _ in range(_MAX_ITER):
        ap += 1.0
        delta *= x / ap
        s += delta
        if abs(delta) < abs(s) * _EPS:
            break
    return s * math.exp(-x + a * math.log(x) - gln)


def _gamma_cf(a: float, x: float) -> float:
    """Upper regularized incomplete gamma Q(a, x) by continued fraction;
    for x >= a+1 (modified Lentz's method)."""
    gln = math.lgamma(a)
    tiny = 1.0e-300
    b = x + 1.0 - a
    c = 1.0 / tiny
    d = 1.0 / b
    h = d
    for i in range(1, _MAX_ITER + 1):
        an = -i * (i - a)
        b += 2.0
        d = an * d + b
        if abs(d) < tiny:
            d = tiny
        c = b + an / c
        if abs(c) < tiny:
            c = tiny
        d = 1.0 / d
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < _EPS:
            break
    return math.exp(-x + a * math.log(x) - gln) * h


def gammainc_upper_regularized(a: float, x: float) -> float:
    """Q(a, x) = Gamma(a, x) / Gamma(a)."""
    if x < 0 or a <= 0:
        raise ValueError("invalid arguments")
    if x == 0:
        return 1.0
    if x < a + 1.0:
        return 1.0 - _gamma_series(a, x)
    return _gamma_cf(a, x)


def chi2_sf(x: float, df: int) -> float:
    """Survival function of the chi-square distribution: P(X >= x)."""
    if x <= 0:
        return 1.0
    return gammainc_upper_regularized(df / 2.0, x / 2.0)


def chi2_stat(observed: np.ndarray, expected: np.ndarray) -> float:
    """Pearson chi-square statistic sum((O - E)^2 / E)."""
    observed = np.asarray(observed, dtype=float)
    expected = np.asarray(expected, dtype=float)
    if observed.shape != expected.shape:
        raise ValueError("shape mismatch")
    mask = expected > 0
    return float(((observed[mask] - expected[mask]) ** 2 / expected[mask]).sum())


def kolmogorov_sf(lam: float) -> float:
    """Q(lambda) = 2 sum_{k>=1} (-1)^{k-1} exp(-2 k^2 lambda^2).

    The alternating series converges poorly for small lambda; there we use
    the equivalent Jacobi-theta form of the CDF,
    K(lam) = sqrt(2 pi)/lam * sum_{k odd} exp(-k^2 pi^2 / (8 lam^2)).
    """
    if lam <= 0:
        return 1.0
    if lam < 1.18:
        t = math.exp(-math.pi ** 2 / (8.0 * lam * lam))
        cdf = (math.sqrt(2.0 * math.pi) / lam) * (t + t ** 9 + t ** 25 + t ** 49)
        return min(max(1.0 - cdf, 0.0), 1.0)
    total = 0.0
    sign = 1.0
    for k in range(1, 101):
        term = sign * math.exp(-2.0 * (k * lam) ** 2)
        total += term
        sign = -sign
        if abs(term) < 1e-16:
            break
    return min(max(2.0 * total, 0.0), 1.0)


def ks_stat_from_binned(observed_counts: np.ndarray, expected_probs: np.ndarray) -> float:
    """KS statistic max|CDF_obs - CDF_exp| over shared histogram bins."""
    obs = np.asarray(observed_counts, dtype=float)
    n = obs.sum()
    if n == 0:
        return 0.0
    cdf_obs = np.cumsum(obs) / n
    cdf_exp = np.cumsum(np.asarray(expected_probs, dtype=float))
    cdf_exp = cdf_exp / cdf_exp[-1]
    return float(np.abs(cdf_obs - cdf_exp).max())


def ks_test_from_binned(observed_counts: np.ndarray, expected_probs: np.ndarray):
    """(statistic, asymptotic p_value) one-sample KS over binned data.
    lambda = (sqrt(n) + 0.12 + 0.11/sqrt(n)) * D (Stephens' approximation)."""
    obs = np.asarray(observed_counts, dtype=float)
    n = obs.sum()
    d = ks_stat_from_binned(obs, expected_probs)
    if n == 0:
        return d, 1.0
    sqrt_n = math.sqrt(n)
    lam = (sqrt_n + 0.12 + 0.11 / sqrt_n) * d
    return d, kolmogorov_sf(lam)
