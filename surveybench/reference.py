"""NumPy reference computations the benchmark checks the program's
outputs against.  They share no code with the program: each follows
the textbook formula directly, on arrays collected from the inputs.
"""

from __future__ import annotations

import numpy as np


def logistic_fit(x: np.ndarray, y: np.ndarray, w: np.ndarray,
                 iters: int = 50) -> np.ndarray:
    """Weighted logistic regression by Newton's method (x has an
    intercept column)."""
    beta = np.zeros(x.shape[1])
    for _ in range(iters):
        p = 1.0 / (1.0 + np.exp(-(x @ beta)))
        grad = x.T @ (w * (y - p))
        hess = (x * (w * p * (1.0 - p))[:, None]).T @ x
        step = np.linalg.solve(hess, grad)
        beta = beta + step
        if np.max(np.abs(step)) < 1e-12:
            break
    return beta


def logistic_score(x: np.ndarray, y: np.ndarray, w: np.ndarray,
                   beta: np.ndarray) -> np.ndarray:
    """Score sum_i w_i (y_i - p_i(beta)) x_i."""
    p = 1.0 / (1.0 + np.exp(-(x @ beta)))
    return x.T @ (w * (y - p))


def nrd0(v: np.ndarray) -> float:
    """Silverman's rule of thumb, as R's ``bw.nrd0``."""
    v = np.asarray(v, dtype=float)
    sd = float(np.std(v, ddof=1))
    q75, q25 = np.percentile(v, [75, 25])
    lo = min(sd, (q75 - q25) / 1.34) or sd or abs(float(np.median(v))) or 1.0
    return 0.9 * lo * len(v) ** -0.2


def _kernel(z: np.ndarray, kernel: str) -> np.ndarray:
    if kernel == "dnorm":
        return np.exp(-0.5 * z * z) / np.sqrt(2.0 * np.pi)
    if kernel == "triang":
        return np.maximum(0.0, 1.0 - np.abs(z))
    raise ValueError(kernel)


def kw_weights(ps_c: np.ndarray, ps_s: np.ndarray, wt_s: np.ndarray,
               h: float, kernel: str, support: float = np.inf,
               chunk: int = 512) -> np.ndarray:
    """Kernel pseudo-weights by brute force over every (survey, cohort)
    pair:  kw_j = sum_i wt_i K_ij / sum_j' K_ij',  K_ij = K((s_i - c_j)/h)
    set to 0 beyond ``support`` bandwidths.  Survey units with no cohort
    unit in support spread their weight evenly over the cohort."""
    kw = np.zeros(len(ps_c))
    unmatched = 0.0
    for lo in range(0, len(ps_s), chunk):
        z = (ps_s[lo:lo + chunk, None] - ps_c[None, :]) / h
        k = np.where(np.abs(z) <= support, _kernel(z, kernel), 0.0)
        rs = k.sum(axis=1)
        ok = rs > 0
        kw += (wt_s[lo:lo + chunk][ok] / rs[ok]) @ k[ok]
        unmatched += float(wt_s[lo:lo + chunk][~ok].sum())
    return kw + unmatched / len(ps_c)


def cox_fit(x: np.ndarray, t: np.ndarray, d: np.ndarray, w: np.ndarray,
            iters: int = 50) -> np.ndarray:
    """Weighted Cox regression, Breslow ties, by Newton's method.  The
    risk set at an event time t is every unit with time >= t."""
    order = np.argsort(-t, kind="stable")
    x, t, d, w = x[order], t[order], d[order], w[order]
    # index of the last unit (in descending time) tied with each unit
    last = np.searchsorted(-t, -t, side="right") - 1
    beta = np.zeros(x.shape[1])
    for _ in range(iters):
        r = w * np.exp(x @ beta)
        s0 = np.cumsum(r)[last]
        s1 = np.cumsum(r[:, None] * x, axis=0)[last]
        s2 = np.cumsum(r[:, None, None] * x[:, :, None] * x[:, None, :],
                       axis=0)[last]
        ev = (d * w) > 0
        xbar = s1[ev] / s0[ev, None]
        we = (d * w)[ev]
        score = (we[:, None] * (x[ev] - xbar)).sum(axis=0)
        info = (we[:, None, None] * (s2[ev] / s0[ev, None, None]
                - xbar[:, :, None] * xbar[:, None, :])).sum(axis=0)
        step = np.linalg.solve(info, score)
        beta = beta + step
        if np.max(np.abs(step)) < 1e-12:
            break
    return beta


def close(a, b, rtol: float, atol: float = 0.0) -> bool:
    """All of ``a`` within ``atol + rtol * |b|`` of ``b``; NaN fails."""
    a = np.asarray(a, dtype=float)
    b = np.asarray(b, dtype=float)
    return bool(a.shape == b.shape
                and np.all(np.abs(a - b) <= atol + rtol * np.abs(b)))
