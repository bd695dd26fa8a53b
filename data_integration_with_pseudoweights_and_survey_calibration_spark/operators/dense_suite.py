"""Dense (NumPy) twin of the per-replicate method suite, and the
grouped-jackknife regime that runs EVERY leave-one-group-out replicate
of the 16-method table (``jk_fun.R:79-170``) inside ONE
``applyInPandas`` job.

Why this exists: the reference's jackknife refits the full method suite
90 times on 600/300-row samples (``jk_fun.R:314-374``). Each suite run
is *sample-scale* -- the data fits in L2 -- so driving it through
distributed operators costs hundreds of tiny Spark jobs per replicate
(scheduler-bound: minutes per replicate for microseconds of math).
The scalable regime at sample scale is the same one ``jk_refit_grouped``
uses for the plain Cox refits: explode rows to the replicates that keep
them, group by replicate, and run the whole 16-method estimation
densely per group -- 90 replicates in one job, one task each.

Numerical contract: ``estimate_methods_np`` mirrors
``method_suite.estimate_methods`` exactly (same estimating equations,
same reference quirks -- halved stacked weights, cohort-only GREG
restore, true-outcome refit/hazards) and is golden-tested against it.

Population-scale replicates (leave-out groups of a 10^9-row cohort)
stay on the distributed path (``jk_refit_loop`` / ``jk_linear_replicates``);
this module is the n-small-m-many corner of the regime triangle.
"""

from __future__ import annotations

import math
from typing import Mapping, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..dense import dense_cox, dense_logistic
from ..functions.design import DesignMatrix


# ---------------------------------------------------------------------------
# dense kernels mirroring the distributed operators
# ---------------------------------------------------------------------------


def _grid_series(t, d, w, rel):
    """Distinct-time grid with reverse-cumulative risk sets.

    Returns (uniq_t, inv, s0, nt) where s0[g] = sum_{t_i >= u_g} w*rel
    and nt[g] = weighted events at u_g (``hazard_grid`` semantics).
    """
    uniq_t, inv = np.unique(t, return_inverse=True)
    n_t = len(uniq_t)
    s0p = np.zeros(n_t)
    nt = np.zeros(n_t)
    np.add.at(s0p, inv, w * rel)
    np.add.at(nt, inv, w * d)
    s0 = np.cumsum(s0p[::-1])[::-1]
    return uniq_t, inv, s0, nt


def _dense_breslow(t, d, w, rel, t_star):
    """I17 ``cum_bsln_hzd``: Lambda(t*) via the grid recipe."""
    uniq_t, _, s0, nt = _grid_series(t, d, w, rel)
    ev = nt > 0
    ev_t = uniq_t[ev]
    lam = nt[ev] / s0[ev]
    cum = np.cumsum(lam)
    out = []
    for ts in t_star:
        k = np.searchsorted(ev_t, ts, side="right")
        out.append(cum[k - 1] if k > 0 else 0.0)
    return np.asarray(out)


def _dense_gail(pop_t, pop_ls, t, d, w, rel, t_star):
    """I15 ``gail_h``: Lambda_G(t*) = sum lambda*(u) (1-AR)(v(u)) with
    NOCB mapping of merged times to the next sample event time."""
    uniq_t, _, s0, nt = _grid_series(t, d, w, rel)
    yp = np.zeros(len(uniq_t))
    np.add.at(yp, np.unique(t, return_inverse=True)[1], w)
    y0 = np.cumsum(yp[::-1])[::-1]
    ev = nt > 0
    samp_t = uniq_t[ev]
    samp_ar = y0[ev] / s0[ev]  # one_minus_ar
    merged = np.union1d(pop_t, samp_t)
    ls = np.zeros(len(merged))
    ls[np.searchsorted(merged, pop_t)] = pop_ls
    # next sample event time at-or-after each merged time
    nxt = np.searchsorted(samp_t, merged, side="left")
    keep = nxt < len(samp_t)
    merged, ls, nxt = merged[keep], ls[keep], nxt[keep]
    contrib = ls * samp_ar[nxt]
    cum = np.cumsum(contrib)
    out = []
    for ts in t_star:
        k = np.searchsorted(merged, ts, side="right")
        out.append(cum[k - 1] if k > 0 else 0.0)
    return np.asarray(out)


def _dense_cox_influence(x, t, d, w, beta):
    """I12 ``beta_pw.cox`` dfbeta matrix (n, p): beta_pw = -Ui U_beta^-1
    (``cox_score_influence`` semantics, ties share the risk set)."""
    n, p = x.shape
    rel = np.exp(x @ beta)
    we = w * rel
    wd = w * d
    uniq_t, inv = np.unique(t, return_inverse=True)
    n_t = len(uniq_t)
    s0p = np.zeros(n_t)
    s1p = np.zeros((n_t, p))
    s2p = np.zeros((n_t, p, p))
    du = np.zeros(n_t)
    np.add.at(s0p, inv, we)
    np.add.at(s1p, inv, we[:, None] * x)
    np.add.at(s2p, inv, we[:, None, None] * (x[:, :, None] * x[:, None, :]))
    np.add.at(du, inv, wd)
    s0 = np.cumsum(s0p[::-1])[::-1]
    s1 = np.cumsum(s1p[::-1], axis=0)[::-1]
    s2 = np.cumsum(s2p[::-1], axis=0)[::-1]
    h = s1 / s0[:, None]
    ca = np.cumsum(du / s0)
    cb = np.cumsum(du[:, None] * s1 / (s0 * s0)[:, None], axis=0)
    ui = (
        d[:, None] * (x - h[inv])
        - rel[:, None] * (x * ca[inv][:, None] - cb[inv])
    )
    ev = du > 0
    ratio = s1[ev] / s0[ev, None]
    u_beta = -(
        (du[ev, None, None] * s2[ev] / s0[ev, None, None]).sum(axis=0)
        - (du[ev, None, None] * (ratio[:, :, None] * ratio[:, None, :])).sum(
            axis=0
        )
    )
    return -ui @ np.linalg.inv(u_beta)


def _dense_greg(w, xmat, bench):
    """I8 ``greg.f``: g_i = 1 + (V - Vhat)' (X'WX)^-1 x_i."""
    g_mat = xmat.T @ (w[:, None] * xmat)
    v_hat = xmat.T @ w
    coef = np.linalg.solve(g_mat, np.asarray(bench, dtype=float) - v_hat)
    return 1.0 + xmat @ coef


def _clamp(w):
    """B5: negative calibrated weights floored at 1e-5."""
    return np.where(w < 0, 1e-5, w)


def _design_np(pdf: pd.DataFrame, formula: str):
    """Pandas twin of ``DesignMatrix.attach``: (matrix, names)."""
    dm = DesignMatrix(formula)
    intercept, terms = dm._parse()
    cols = []
    names = []
    if intercept:
        cols.append(np.ones(len(pdf)))
        names.append("_icpt")
    for term in terms:
        v = np.ones(len(pdf))
        for fct in term.split(":"):
            v = v * pdf[fct].to_numpy(dtype=float)
        cols.append(v)
        names.append(term.replace(":", "_x_"))
    return np.column_stack(cols) if cols else np.empty((len(pdf), 0)), names


def _dense_calib_est(
    com: pd.DataFrame,
    x_cols: Sequence[str],
    t_star: Sequence[float],
    *,
    var_wt: str,
    pop_size: float,
    pop_events: float,
    aux_t: str,
    aux_d: str,
    t: str,
    d: str,
    restore_factor: float,
    lambda_star,
    x0,
) -> dict:
    """Dense I9 ``calib_est`` (same flow as ``calib_pipeline.calib_est``)."""
    xs = com[list(x_cols)].to_numpy(dtype=float)
    vw = com[var_wt].to_numpy(dtype=float)
    at = com[aux_t].to_numpy(dtype=float)
    ad = com[aux_d].to_numpy(dtype=float)
    beta_aux = dense_cox(xs, at, ad, vw).beta
    rel = np.exp(xs @ beta_aux)
    beta_pw = _dense_cox_influence(xs, at, ad, vw, beta_aux)
    trr = at * rel
    t_rr_tot = float(np.sum(vw * trr))

    cmask = com["trt"].to_numpy() == 1
    xc = xs[cmask]
    startwt = vw[cmask] * float(restore_factor)
    d_true = com[d].to_numpy(dtype=float)[cmask]
    t_true = com[t].to_numpy(dtype=float)[cmask]
    ones = np.ones(cmask.sum())

    p = len(x_cols)
    aux_rr = np.column_stack([ones, d_true, beta_pw[cmask]])
    bench_rr = [float(pop_size), float(pop_events)] + [0.0] * p
    calibwt_rr = _clamp(startwt * _dense_greg(startwt, aux_rr, bench_rr))

    aux_l = np.column_stack([ones, d_true, trr[cmask]])
    bench_l = [float(pop_size), float(pop_events), t_rr_tot]
    calib_lamd = _clamp(startwt * _dense_greg(startwt, aux_l, bench_l))

    beta_refit = dense_cox(xc, t_true, d_true, calibwt_rr).beta
    rel2 = np.exp(xc @ beta_refit)
    Lam = _dense_breslow(t_true, d_true, calib_lamd, rel2, t_star)
    LamG = absR = absRG = None
    if lambda_star is not None:
        pop_t, pop_ls = lambda_star
        LamG = _dense_gail(pop_t, pop_ls, t_true, d_true, calib_lamd, rel2, t_star)
    if x0 is not None:
        rr0 = float(np.exp(np.dot(beta_refit, np.asarray(x0, dtype=float))))
        absR = 1.0 - np.exp(-Lam * rr0)
        if LamG is not None:
            absRG = 1.0 - np.exp(-LamG * rr0)
    return {
        "beta": beta_refit,
        "Lambda": Lam,
        "LambdaG": LamG,
        "absR": absR,
        "absRG": absRG,
    }


# ---------------------------------------------------------------------------
# the dense 16-method suite
# ---------------------------------------------------------------------------


def estimate_methods_np(
    cohort: pd.DataFrame,
    survey: pd.DataFrame,
    *,
    x_cols: Sequence[str],
    ps_formula: str,
    t_star: Sequence[float],
    pop_size: float,
    pop_events: float,
    lambda_star=None,
    x0: Sequence[Sequence[float]] | None = None,
    error_variants: Sequence[int] = (1, 2, 3),
    survey_weight: str = "wt",
    t: str = "t",
    d: str = "d",
) -> dict[str, float]:
    """Dense ``jk_est_noninf``: identical output map to
    ``method_suite.estimate_methods``.

    ``lambda_star``: (pop_t, lambda_star) numpy pair (the population
    hazard grid collapsed once by the caller).
    """
    x_cols = list(x_cols)
    t_star = [float(v) for v in t_star]
    results: dict[str, float] = {}
    n_s = len(survey)
    a = n_s / float(pop_size)

    def _est_out(pdf, beta, w, tc, dc):
        rel = np.exp(pdf[x_cols].to_numpy(dtype=float) @ beta)
        tt = pdf[tc].to_numpy(dtype=float)
        dd = pdf[dc].to_numpy(dtype=float)
        out = {}
        Lam = _dense_breslow(tt, dd, w, rel, t_star)
        for j in range(len(t_star)):
            out[f"Lambda_t{j}"] = float(Lam[j])
        LamG = None
        if lambda_star is not None:
            LamG = _dense_gail(lambda_star[0], lambda_star[1], tt, dd, w, rel, t_star)
            for j in range(len(t_star)):
                out[f"LambdaG_t{j}"] = float(LamG[j])
        if x0 is not None:
            for pidx, prof in enumerate(x0):
                rr0 = math.exp(float(np.dot(beta, np.asarray(prof, dtype=float))))
                for j in range(len(t_star)):
                    out[f"absR_x{pidx}_t{j}"] = 1.0 - math.exp(-float(Lam[j]) * rr0)
                    if LamG is not None:
                        out[f"absRG_x{pidx}_t{j}"] = 1.0 - math.exp(
                            -float(LamG[j]) * rr0
                        )
        return out

    def _cox_and_est(pdf, w, label, tc=t, dc=d):
        beta = dense_cox(
            pdf[x_cols].to_numpy(dtype=float),
            pdf[tc].to_numpy(dtype=float),
            pdf[dc].to_numpy(dtype=float),
            w,
        ).beta
        for name, b in zip(x_cols, beta):
            results[f"beta_{label}_{name}"] = float(b)
        for k, v in _est_out(pdf, beta, w, tc, dc).items():
            results[f"{k}_{label}"] = v

    wt_c = cohort[survey_weight].to_numpy(dtype=float)
    wt_s = survey[survey_weight].to_numpy(dtype=float)
    _cox_and_est(cohort, np.ones(len(cohort)), "naive")
    _cox_and_est(cohort, wt_c, "cht")
    _cox_and_est(survey, wt_s, "svy")

    # stacked frame with halved true weights (jk_fun.R:111-113); w_s is
    # computed from the ORIGINAL weights (stack first, halve after)
    com = pd.concat(
        [cohort.assign(trt=1), survey.assign(trt=0)], ignore_index=True
    )
    trt = com["trt"].to_numpy()
    w_s = np.where(trt == 1, 1.0, com[survey_weight].to_numpy(dtype=float) * a)
    com[survey_weight] = com[survey_weight].to_numpy(dtype=float) / 2.0

    # propensity: trt ~ ps_formula weighted by w_s; ipsw = (1-p)/(p a)
    xd, _ = _design_np(com, ps_formula)
    gamma = dense_logistic(xd, trt.astype(float), w_s).beta
    p_est = 1.0 / (1.0 + np.exp(-(xd @ gamma)))
    ipsw_all = (1.0 - p_est) / (p_est * a)
    ipsw = ipsw_all[trt == 1]
    cohort_v = com[trt == 1].reset_index(drop=True)
    _cox_and_est(cohort_v, ipsw, "ipsw")

    # composite factors a_cv (jk_fun.R:136-139) on (ipsw, FULL survey wt)
    def _cv(wv):
        return (np.var(wv, ddof=1) / np.mean(wv * wv) + 1.0) / len(wv)

    cv_c, cv_s = _cv(ipsw), _cv(wt_s)
    tot = ipsw.sum() + wt_s.sum()
    cv_sum = cv_c + cv_s
    a_c = tot * (1.0 - cv_c / cv_sum) / ipsw.sum() / 2.0
    a_s = tot * (1.0 - cv_s / cv_sum) / wt_s.sum() / 2.0
    comp = np.where(
        trt == 1,
        np.concatenate([ipsw * a_c, np.zeros(n_s)]),
        com[survey_weight].to_numpy(dtype=float) * 2.0 * a_s,
    )
    com = com.assign(_comp=comp)

    ls_np = lambda_star
    x0_first = list(x0[0]) if x0 else None
    for k in error_variants:
        tt, dt = f"t_tilde_{k}", f"d_tilde_{k}"
        tf, df_ = f"t_fit_{k}", f"d_fit_{k}"
        comk = com.assign(
            **{
                tf: np.where(trt == 0, com[f"t_imp_{k}"], com[t]),
                df_: np.where(trt == 0, com[dt], com[d]),
            }
        )
        for mname, (vt, vd, vw, restore) in {
            "calib": (tt, dt, survey_weight, 2.0),
            "imp": (tf, df_, survey_weight, 2.0),
            "calib_ipsw": (tt, dt, "_comp", 1.0),
            "impcalib_ipsw": (tf, df_, "_comp", 1.0),
        }.items():
            label = f"{mname}.d{k}"
            res = _dense_calib_est(
                comk,
                x_cols,
                t_star,
                var_wt=vw,
                pop_size=pop_size,
                pop_events=pop_events,
                aux_t=vt,
                aux_d=vd,
                t=t,
                d=d,
                restore_factor=restore,
                lambda_star=ls_np,
                x0=x0_first,
            )
            for name, b in zip(x_cols, res["beta"]):
                results[f"beta_{label}_{name}"] = float(b)
            for j in range(len(t_star)):
                results[f"Lambda_t{j}_{label}"] = float(res["Lambda"][j])
                if res["LambdaG"] is not None:
                    results[f"LambdaG_t{j}_{label}"] = float(res["LambdaG"][j])
                if res["absR"] is not None:
                    results[f"absR_x0_t{j}_{label}"] = float(res["absR"][j])
                if res["absRG"] is not None:
                    results[f"absRG_x0_t{j}_{label}"] = float(res["absRG"][j])
    return results


def estimate_methods_inf_np(
    cohort: pd.DataFrame,
    survey: pd.DataFrame,
    *,
    x_cols: Sequence[str],
    ps_formulas: Sequence[str],
    t_star: Sequence[float],
    pop_size: float,
    pop_events: float,
    lambda_star=None,
    x0: Sequence[Sequence[float]] | None = None,
    error_variants: Sequence[int] = (1, 2, 3),
    survey_weight: str = "wt",
    t: str = "t",
    d: str = "d",
) -> dict[str, float]:
    """Dense ``jk_est_inf`` (``jk_fun.R:172-275``): identical output
    map to ``method_suite.estimate_methods_inf`` — the informative
    22-method table with per-formula IPSW fits, per-formula composite
    weights, and the 6-method calibration grid per error variant."""
    x_cols = list(x_cols)
    t_star = [float(v) for v in t_star]
    results: dict[str, float] = {}
    n_s = len(survey)
    a = n_s / float(pop_size)

    def _est_out(pdf, beta, w, tc, dc):
        rel = np.exp(pdf[x_cols].to_numpy(dtype=float) @ beta)
        tt = pdf[tc].to_numpy(dtype=float)
        dd = pdf[dc].to_numpy(dtype=float)
        out = {}
        Lam = _dense_breslow(tt, dd, w, rel, t_star)
        for j in range(len(t_star)):
            out[f"Lambda_t{j}"] = float(Lam[j])
        LamG = None
        if lambda_star is not None:
            LamG = _dense_gail(lambda_star[0], lambda_star[1], tt, dd, w, rel, t_star)
            for j in range(len(t_star)):
                out[f"LambdaG_t{j}"] = float(LamG[j])
        if x0 is not None:
            for pidx, prof in enumerate(x0):
                rr0 = math.exp(float(np.dot(beta, np.asarray(prof, dtype=float))))
                for j in range(len(t_star)):
                    out[f"absR_x{pidx}_t{j}"] = 1.0 - math.exp(-float(Lam[j]) * rr0)
                    if LamG is not None:
                        out[f"absRG_x{pidx}_t{j}"] = 1.0 - math.exp(
                            -float(LamG[j]) * rr0
                        )
        return out

    def _cox_and_est(pdf, w, label, tc=t, dc=d):
        beta = dense_cox(
            pdf[x_cols].to_numpy(dtype=float),
            pdf[tc].to_numpy(dtype=float),
            pdf[dc].to_numpy(dtype=float),
            w,
        ).beta
        for name, b in zip(x_cols, beta):
            results[f"beta_{label}_{name}"] = float(b)
        for k, v in _est_out(pdf, beta, w, tc, dc).items():
            results[f"{k}_{label}"] = v

    wt_c = cohort[survey_weight].to_numpy(dtype=float)
    wt_s = survey[survey_weight].to_numpy(dtype=float)
    _cox_and_est(cohort, np.ones(len(cohort)), "naive")
    _cox_and_est(cohort, wt_c, "cht")
    _cox_and_est(survey, wt_s, "svy")

    # stacked frame with halved true weights (jk_fun.R:205); w_s from
    # the ORIGINAL weights (stack first, halve after)
    com = pd.concat(
        [cohort.assign(trt=1), survey.assign(trt=0)], ignore_index=True
    )
    trt = com["trt"].to_numpy()
    w_s = np.where(trt == 1, 1.0, com[survey_weight].to_numpy(dtype=float) * a)
    com[survey_weight] = com[survey_weight].to_numpy(dtype=float) / 2.0

    def _cv(wv):
        return (np.var(wv, ddof=1) / np.mean(wv * wv) + 1.0) / len(wv)

    # one IPSW method + composite-weight column per candidate PS
    # formula (jk_fun.R:218-238)
    cohort_v = com[trt == 1].reset_index(drop=True)
    for i, fm in enumerate(ps_formulas):
        xd, _ = _design_np(com, fm)
        gamma = dense_logistic(xd, trt.astype(float), w_s).beta
        p_est = 1.0 / (1.0 + np.exp(-(xd @ gamma)))
        ipsw = ((1.0 - p_est) / (p_est * a))[trt == 1]
        _cox_and_est(cohort_v, ipsw, f"ipsw.{i}")
        cv_c, cv_s = _cv(ipsw), _cv(wt_s)
        tot = ipsw.sum() + wt_s.sum()
        cv_sum = cv_c + cv_s
        a_c = tot * (1.0 - cv_c / cv_sum) / ipsw.sum() / 2.0
        a_s = tot * (1.0 - cv_s / cv_sum) / wt_s.sum() / 2.0
        comp = np.where(
            trt == 1,
            np.concatenate([ipsw * a_c, np.zeros(n_s)]),
            com[survey_weight].to_numpy(dtype=float) * 2.0 * a_s,
        )
        com = com.assign(**{f"_comp_{i}": comp})

    ls_np = lambda_star
    x0_first = list(x0[0]) if x0 else None
    for k in error_variants:
        tt, dt = f"t_tilde_{k}", f"d_tilde_{k}"
        tf, df_ = f"t_fit_{k}", f"d_fit_{k}"
        comk = com.assign(
            **{
                tf: np.where(trt == 0, com[f"t_imp_{k}"], com[t]),
                df_: np.where(trt == 0, com[dt], com[d]),
            }
        )
        km = min(k, len(ps_formulas) - 1)
        grid = [
            (f"calib.d{k}", tt, dt, survey_weight, 2.0),
            (f"calib_ipsw0.d{k}", tt, dt, "_comp_0", 1.0),
            (f"calib_ipsw{km}.d{k}", tt, dt, f"_comp_{km}", 1.0),
            (f"imp.d{k}", tf, df_, survey_weight, 2.0),
            (f"impcalib_ipsw0.d{k}", tf, df_, "_comp_0", 1.0),
            (f"impcalib_ipsw{km}.d{k}", tf, df_, f"_comp_{km}", 1.0),
        ]
        for label, vt, vd, vw, restore in grid:
            res = _dense_calib_est(
                comk,
                x_cols,
                t_star,
                var_wt=vw,
                pop_size=pop_size,
                pop_events=pop_events,
                aux_t=vt,
                aux_d=vd,
                t=t,
                d=d,
                restore_factor=restore,
                lambda_star=ls_np,
                x0=x0_first,
            )
            for name, b in zip(x_cols, res["beta"]):
                results[f"beta_{label}_{name}"] = float(b)
            for j in range(len(t_star)):
                results[f"Lambda_t{j}_{label}"] = float(res["Lambda"][j])
                if res["LambdaG"] is not None:
                    results[f"LambdaG_t{j}_{label}"] = float(res["LambdaG"][j])
                if res["absR"] is not None:
                    results[f"absR_x0_t{j}_{label}"] = float(res["absR"][j])
                if res["absRG"] is not None:
                    results[f"absRG_x0_t{j}_{label}"] = float(res["absRG"][j])
    return results


# ---------------------------------------------------------------------------
# grouped jackknife over the dense suite: one job, all replicates
# ---------------------------------------------------------------------------


def jk_suite_grouped(
    cohort: DataFrame,
    survey: DataFrame,
    m_jk: int,
    n_jk: int,
    *,
    x_cols: Sequence[str],
    ps_formula: str | None = None,
    t_star: Sequence[float],
    pop_size: float,
    pop_events: float,
    lambda_star: DataFrame | None = None,
    x0: Sequence[Sequence[float]] | None = None,
    error_variants: Sequence[int] = (1, 2, 3),
    survey_weight: str = "wt",
    group_col: str = "jk_group",
    t: str = "t",
    d: str = "d",
    ps_formulas: Sequence[str] | None = None,
) -> DataFrame:
    """I22 sample-scale regime for the FULL method suite: every
    leave-one-group-out replicate (cohort groups 1..m_jk ->
    replicates 1..m_jk; survey groups -> m_jk+1..m_jk+n_jk) runs
    ``estimate_methods_np`` inside one ``applyInPandas`` task — or,
    when ``ps_formulas`` is given instead of ``ps_formula``, the
    informative 22-method ``estimate_methods_inf_np``.

    Row replication: a cohort row joins every cohort replicate except
    its own group (weight rescaled m/(m-1), ``jk_fun.R:320``) plus every
    survey replicate unchanged; symmetric for survey rows. Shuffle is
    (m_jk + n_jk) x (n_c + n_s) small rows -- trivial next to the 90x
    scheduler round-trips it replaces. Returns (replicate, param,
    value) long DataFrame.
    """
    spark = cohort.sparkSession
    g = m_jk + n_jk
    need = {t, d, survey_weight, group_col, *x_cols}
    for k in error_variants:
        need |= {f"t_tilde_{k}", f"d_tilde_{k}", f"t_imp_{k}"}
    if (ps_formula is None) == (ps_formulas is None):
        raise ValueError("pass exactly one of ps_formula / ps_formulas")
    # design source columns for the propensity formula(s)
    for fm in [ps_formula] if ps_formula is not None else list(ps_formulas):
        for term in DesignMatrix(fm)._parse()[1]:
            need |= set(term.split(":"))
    cols = sorted(c for c in need if c != group_col)

    reps = spark.range(1, g + 1).select(F.col("id").cast("int").alias("_rep"))
    scale_c = float(m_jk) / (m_jk - 1)
    scale_s = float(n_jk) / (n_jk - 1)

    def _explode(df, role, n_groups, scale, first_rep):
        """Rows x replicates: own-side replicates minus own group
        (rescaled); all other-side replicates unchanged."""
        base = df.select(
            F.lit(role).alias("_role"), F.col(group_col).alias("_grp"), *cols
        ).crossJoin(F.broadcast(reps))
        own = (F.col("_rep") >= first_rep) & (
            F.col("_rep") < first_rep + n_groups
        )
        keep = ~own | (F.col("_grp") != (F.col("_rep") - first_rep + 1))
        return base.where(keep).withColumn(
            survey_weight,
            F.when(own, F.col(survey_weight) * scale).otherwise(
                F.col(survey_weight)
            ),
        )

    exploded = _explode(cohort, 1, m_jk, scale_c, 1).unionByName(
        _explode(survey, 0, n_jk, scale_s, m_jk + 1)
    )

    ls_np = None
    if lambda_star is not None:
        ls_pdf = lambda_star.select("t", "lambda_star").orderBy("t").toPandas()
        ls_np = (
            ls_pdf["t"].to_numpy(dtype=float),
            ls_pdf["lambda_star"].to_numpy(dtype=float),
        )
    x0_l = [list(map(float, row)) for row in x0] if x0 is not None else None
    estimator = (
        estimate_methods_np if ps_formula is not None else estimate_methods_inf_np
    )
    fm_kw = (
        dict(ps_formula=ps_formula)
        if ps_formula is not None
        else dict(ps_formulas=[str(f) for f in ps_formulas])
    )
    kw = dict(
        x_cols=list(x_cols),
        **fm_kw,
        t_star=[float(v) for v in t_star],
        pop_size=float(pop_size),
        pop_events=float(pop_events),
        lambda_star=ls_np,
        x0=x0_l,
        error_variants=tuple(error_variants),
        survey_weight=survey_weight,
        t=t,
        d=d,
    )

    def _one_rep(pdf: pd.DataFrame) -> pd.DataFrame:
        rep = int(pdf["_rep"].iloc[0])
        c_pdf = pdf[pdf["_role"] == 1].reset_index(drop=True)
        s_pdf = pdf[pdf["_role"] == 0].reset_index(drop=True)
        est = estimator(c_pdf, s_pdf, **kw)
        return pd.DataFrame(
            {
                "replicate": rep,
                "param": list(est.keys()),
                "value": [float(v) for v in est.values()],
            }
        )

    n_part = min(g, spark.sparkContext.defaultParallelism)
    return (
        exploded.repartition(n_part, "_rep")
        .groupBy("_rep")
        .applyInPandas(_one_rep, schema="replicate int, param string, value double")
    )
