"""The three workloads: input generation, the timed operation, and the
checks of its output against the NumPy references.

Inputs are generated here with NumPy from the run's seed; the program
only receives the generated frames.  Operation ``i`` of every run
with the same seed reads the same inputs, and each operation starts
from an empty Spark cache (the inputs are pinned with
``localCheckpoint``, which ``clearCache`` leaves in place).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np
import pandas as pd

import reference as ref

PKG = "data_integration_with_pseudoweights_and_survey_calibration_spark"

# population model of the reference simulation (calib_simu_noninf0315.R)
SD_X = np.array([4.0, 2.0, 2.0])
BETA = np.array([0.2, 0.2, 0.3])
BETA0 = math.log(-math.log(0.85) / 15.0)
HORIZON = 15.0
C2_SCALE = -15.0 / math.log(0.9)
ERROR_1 = (2.0, 0.01, 0.02, 0.01)     # measurement-error profile 1
ODDS_C = np.array([-0.15, 0.1])        # cohort selection odds on (x1, x2)
ODDS_S = np.array([0.07, 0.07])        # survey selection odds on (x1, x2)
T_STAR = [2.0, 5.0, 10.0]
X_COLS = ["x1", "x2", "x3"]
PS_FORMULA = "x1 + x2"


def _mod(name):
    """A layer module of the program, looked up at call time so that a
    tracer's rebinding is seen."""
    import importlib

    return importlib.import_module(f"{PKG}.operators.{name}")


def population(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """Finite population: covariates, Weibull(1) event times under two
    censoring processes, x1/x2 tercile cells and error variant 1 with
    its regression imputation."""
    x = rng.normal(size=(n, 3)) * SD_X
    t_i = rng.exponential(1.0 / np.exp(BETA0 + x @ BETA))
    c1 = HORIZON - rng.uniform(size=n)
    c2 = rng.exponential(C2_SCALE, size=n)
    c = np.minimum(c1, c2)
    pop = pd.DataFrame({"id": np.arange(1, n + 1, dtype=np.int64),
                        "x1": x[:, 0], "x2": x[:, 1], "x3": x[:, 2],
                        "t": np.minimum(t_i, c), "d": (t_i <= c).astype(np.int32)})
    for k, name in ((0, "x1_c"), (1, "x2_c")):
        lo, hi = np.quantile(x[:, k], [0.3, 0.6])
        pop[name] = np.where(x[:, k] <= lo, 1, np.where(x[:, k] <= hi, 2, 3)).astype(np.int32)
    pop["w"] = 1.0
    b = ERROR_1
    delta = np.maximum(b[0] + b[1] * x[:, 0] + b[2] * x[:, 1] + b[3] * x[:, 0] * x[:, 1]
                       + rng.normal(size=n) + 0.01, 0.0)
    t_d = t_i + delta
    d_tilde = t_d <= c
    xi = np.column_stack([np.ones(n), x[:, 0], x[:, 1], x[:, 0] * x[:, 1]])
    coef = np.linalg.lstsq(xi[d_tilde], delta[d_tilde], rcond=None)[0]
    t_tilde = np.minimum(t_d, c)
    pop["t_delta_1"] = delta
    pop["t_tilde_1"] = t_tilde
    pop["d_tilde_1"] = d_tilde.astype(np.int32)
    pop["t_imp_1"] = np.where(d_tilde, np.maximum(t_tilde - np.maximum(xi @ coef, 0.0), 0.0),
                              pop["t"].to_numpy())
    return pop


def poisson_draw(rng, pop: pd.DataFrame, odds: np.ndarray, n: int,
                 weighted: bool) -> pd.DataFrame:
    """Poisson sample of expected size ``n`` with inclusion probability
    proportional to exp(odds . (x1, x2)); ``wt`` = 1 / probability."""
    size = np.exp(pop[["x1", "x2"]].to_numpy() @ odds)
    pi = np.minimum(n * size / size.sum(), 1.0)
    take = rng.uniform(size=len(pop)) < pi
    out = pop.loc[take, ["id", "x1", "x2", "x3", "t", "d", "x1_c"]].reset_index(drop=True)
    if weighted:
        out["wt"] = 1.0 / pi[take]
    return out


def load(spark, pdf: pd.DataFrame):
    return spark.createDataFrame(pdf).localCheckpoint(eager=True)


def _design(pdf, cols=("x1", "x2")):
    return np.column_stack([np.ones(len(pdf))] + [pdf[c].to_numpy() for c in cols])


@dataclass
class Workload:
    setup: Callable[[Any, int], dict]
    op: Callable[[dict, int], dict]
    check: Callable[[dict, dict], list]
    # operations per timed round; op_s and cpu_s are medians over them
    round_ops: int
    final_check: Callable[[dict, dict], list] = field(default=lambda s, r: [])


# ---------------------------------------------------------------- weights
W_POP, W_COHORT, W_SURVEY = 200_000, 6_000, 3_000


def weights_setup(spark, seed):
    rng = np.random.default_rng([seed, 1])
    pop = population(rng, W_POP)
    cpdf = poisson_draw(rng, pop, ODDS_C, W_COHORT, weighted=False)
    spdf = poisson_draw(rng, pop, ODDS_S, W_SURVEY, weighted=True)
    return {"spark": spark, "cohort_pdf": cpdf, "survey_pdf": spdf,
            "cohort": load(spark, cpdf), "survey": load(spark, spdf),
            "pop_n": float(W_POP), "pop_x1": float(pop["x1"].sum()),
            "pop_nh": {int(k): float(v) for k, v in pop.groupby("x1_c").size().items()}}


def weights_op(st, i):
    from pyspark.sql import functions as F

    st["spark"].catalog.clearCache()
    out = {}
    frames = {}
    for kernel in ("dnorm", "triang"):
        cw, fit, _ = _mod("propensity").integrate(
            st["cohort"], st["survey"], PS_FORMULA, pop_size=st["pop_n"], kernel=kernel)
        frames[kernel] = cw
        out[f"gamma_{kernel}"] = np.asarray(fit.gamma, dtype=float)
        out[f"kw_{kernel}"] = cw.select("id", "kw", "ipsw").toPandas().sort_values("id")
    cw = frames["dnorm"]
    greg = _mod("calibration").greg_calibrate(
        cw.withColumn("_one", F.lit(1.0)), "kw", ["_one", "x1"], [st["pop_n"], st["pop_x1"]])
    post = _mod("calibration").post_stratify(cw, "x1_c", "kw", st["pop_nh"])
    row = greg.df.join(post.df.select("id", "post_wt"), "id").join(
        frames["triang"].select("id", F.col("kw").alias("kw_t")), "id").agg(
        *[(F.sum(F.col(w) * F.col("d")) / F.sum(w)).alias(f"prev_{w}")
          for w in ("ipsw", "kw", "kw_t", "calib_wt", "post_wt")],
        F.sum("calib_wt").alias("greg_n"),
        F.sum(F.col("calib_wt") * F.col("x1")).alias("greg_x1"),
    ).collect()[0].asDict()
    out.update(row)
    out["post_cells"] = {int(r[0]): float(r[1]) for r in
                         post.df.groupBy("x1_c").agg(F.sum("post_wt")).collect()}
    return out


def _stacked(st):
    c, s = st["cohort_pdf"], st["survey_pdf"]
    x = np.vstack([_design(c), _design(s)])
    y = np.r_[np.ones(len(c)), np.zeros(len(s))]
    return x, y, c, s


def weights_check(st, r):
    bad = []
    x, y, c, s = _stacked(st)
    w = np.r_[np.ones(len(c)), s["wt"].to_numpy()]
    scale = np.abs(x).T @ w
    for kernel in ("dnorm", "triang"):
        g = r[f"gamma_{kernel}"]
        if not np.all(np.abs(ref.logistic_score(x, y, w, g)) <= 1e-6 * scale):
            bad.append(f"{kernel}: score equations not ~0 at gamma")
        if not ref.close(r[f"kw_{kernel}"]["kw"].sum(), s["wt"].sum(), 1e-9):
            bad.append(f"{kernel}: sum kw != sum survey wt")
    ipsw = np.exp(-(_design(c) @ r["gamma_dnorm"]))
    d = c["d"].to_numpy()
    if not ref.close(r["prev_ipsw"], (ipsw * d).sum() / ipsw.sum(), 1e-9):
        bad.append("ipsw prevalence != reference")
    if not (ref.close(r["greg_n"], st["pop_n"], 1e-9)
            and ref.close(r["greg_x1"], st["pop_x1"], 0.0, 1e-6 * st["pop_n"])):
        bad.append("greg totals do not reproduce (N, sum x1)")
    if set(r["post_cells"]) != set(st["pop_nh"]) or not all(
            ref.close(r["post_cells"][k], v, 1e-9) for k, v in st["pop_nh"].items()):
        bad.append("post-stratified cell totals != N_h")
    for key in ("prev_kw", "prev_kw_t", "prev_calib_wt", "prev_post_wt"):
        if not 0.0 < r[key] < 1.0:
            bad.append(f"{key} outside (0, 1)")
    return bad


def weights_final_check(st, r):
    """Brute-force KW for every cohort unit (outside the timed window)."""
    bad = []
    c, s = st["cohort_pdf"], st["survey_pdf"]
    g = r["gamma_dnorm"]
    ps_c, ps_s = _design(c) @ g, _design(s) @ g
    h = ref.nrd0(ps_c)
    # the program cuts the Gaussian kernel off at 8 bandwidths
    for kernel, hk, support in (("dnorm", h, 8.0), ("triang", h * 0.8586768 / 0.9, 1.0)):
        want = ref.kw_weights(ps_c, ps_s, s["wt"].to_numpy(), hk, kernel, support)
        got = r[f"kw_{kernel}"]
        order = np.argsort(c["id"].to_numpy())
        err = np.abs(got["kw"].to_numpy() - want[order]) / want.max()
        if not err.max() <= 1e-9:
            bad.append(f"{kernel}: kw != brute-force reference "
                       f"(max error {err.max():.3g} of max kw)")
    return bad


# --------------------------------------------------------------- variance
V_POP, V_COHORT, V_SURVEY = 100_000, 1_000, 500


def variance_setup(spark, seed):
    rng = np.random.default_rng([seed, 2])
    pop = population(rng, V_POP)
    cpdf = poisson_draw(rng, pop, ODDS_C, V_COHORT, weighted=False)
    spdf = poisson_draw(rng, pop, ODDS_S, V_SURVEY, weighted=True)
    lam = _mod("survival").lambda_star_pop(load(spark, pop[["id", "t", "d"]]))
    x0 = [float(pop["x1"].median()) + 0.5, float(pop["x2"].median()),
          float(pop["x3"].median())]
    return {"spark": spark, "cohort_pdf": cpdf, "survey_pdf": spdf,
            "cohort": load(spark, cpdf), "survey": load(spark, spdf),
            "lambda_star": lam.localCheckpoint(eager=True), "x0": x0,
            "pop_n": float(V_POP)}


def variance_op(st, i):
    st["spark"].catalog.clearCache()
    return _mod("taylor").taylor_inference(
        st["cohort"], st["survey"], PS_FORMULA, X_COLS, T_STAR,
        pop_size=st["pop_n"], x0=st["x0"], lambda_star=st["lambda_star"],
        methods=("ipsw",))


def variance_check(st, r):
    bad = []
    x, y, c, s = _stacked(st)
    a = len(s) / st["pop_n"]
    gamma = ref.logistic_fit(x, y, np.r_[np.ones(len(c)), s["wt"].to_numpy() * a])
    pw = np.exp(-(_design(c) @ gamma))
    beta = ref.cox_fit(c[X_COLS].to_numpy(), c["t"].to_numpy(), c["d"].to_numpy(), pw)
    if not ref.close(r["ipsw"].beta, beta, 1e-6, 1e-8):
        bad.append("ipsw beta != NumPy Cox fit")
    for m, inf in r.items():
        for name in ("var_beta_pps", "var_beta_poisson"):
            v = np.diag(getattr(inf, name))
            if not np.all(np.isfinite(v) & (v > 0)):
                bad.append(f"{m}: {name} not finite and > 0")
        for name in ("var_Lambda_pps", "var_Lambda_poisson", "var_LambdaG_pps",
                     "var_LambdaG_poisson", "var_absR_pps", "var_absR_poisson"):
            v = np.asarray(getattr(inf, name), dtype=float)
            if not np.all(np.isfinite(v) & (v > 0)):
                bad.append(f"{m}: {name} not finite and > 0")
        for name in ("Lambda", "LambdaG"):
            if np.any(np.diff(np.asarray(getattr(inf, name), dtype=float)) < 0):
                bad.append(f"{m}: {name} decreases in t*")
        ar = np.asarray(inf.absR, dtype=float)
        if not np.all((ar > 0) & (ar < 1)):
            bad.append(f"{m}: absolute risk outside (0, 1)")
    return bad


# ---------------------------------------------------------- sim_replicate
S_POP, S_COHORT, S_SURVEY, M_JK, N_JK = 300_000, 600, 300, 60, 30


def sim_setup(spark, seed):
    rng = np.random.default_rng([seed, 3])
    pop = population(rng, S_POP)
    pop_df = load(spark, pop)
    lam = _mod("survival").lambda_star_pop(pop_df).localCheckpoint(eager=True)
    x0 = [float(pop["x1"].median()) + 0.5, float(pop["x2"].median()),
          float(pop["x3"].median())]
    return {"spark": spark, "pop": pop_df, "lambda_star": lam, "x0": x0,
            "pop_n": float(S_POP), "pop_events": float(pop["d"].sum()),
            "seed": seed}


def sim_op(st, i):
    spark = st["spark"]
    spark.catalog.clearCache()
    cohort, survey = _mod("simulation").draw_samples(
        st["pop"], S_COHORT, S_SURVEY, seed=st["seed"] * 1000 + i)
    cohort = cohort.localCheckpoint(eager=True)
    survey = survey.localCheckpoint(eager=True)
    common = dict(x_cols=X_COLS, ps_formula=PS_FORMULA, t_star=T_STAR,
                  pop_size=st["pop_n"], pop_events=st["pop_events"],
                  lambda_star=st["lambda_star"], x0=[st["x0"]], error_variants=(1,))
    est = _mod("method_suite").estimate_methods(
        cohort, survey, base_methods=("naive", "cht", "svy"),
        calib_methods=("calib",), **common)
    sampling = _mod("sampling")
    cj = sampling.assign_jk_groups(cohort, M_JK, seed=11).cache()
    sj = sampling.assign_jk_groups(survey, N_JK, seed=12).cache()
    jk = _mod("dense_suite").jk_suite_grouped(cj, sj, M_JK, N_JK, **common).toPandas()
    theta = jk.pivot_table(index="replicate", columns="param", values="value").sort_index()
    _, var = _mod("jackknife").jk_variance(theta.to_numpy(), M_JK, N_JK)
    return {"est": est, "jk": jk, "jk_var": var, "cohort": cohort, "survey": survey}


def sim_check(st, r):
    bad = []
    c = r["cohort"].toPandas()
    s = r["survey"].toPandas()
    if len(c) != S_COHORT or len(s) != S_SURVEY:
        bad.append("sample sizes differ from the design")
    for label, frame, w in (("naive", c, np.ones(len(c))),
                            ("cht", c, c["wt"].to_numpy()),
                            ("svy", s, s["wt"].to_numpy())):
        beta = ref.cox_fit(frame[X_COLS].to_numpy(), frame["t"].to_numpy(),
                           frame["d"].to_numpy(), w)
        got = [r["est"][f"beta_{label}_{x}"] for x in X_COLS]
        if not ref.close(got, beta, 1e-6, 1e-8):
            bad.append(f"{label} beta != NumPy Cox fit")
    counts = r["jk"].groupby("param")["replicate"].nunique()
    if counts.empty or not (counts == M_JK + N_JK).all():
        bad.append("jackknife replicates per parameter != m_jk + n_jk")
    if not np.all(np.isfinite(r["jk_var"]) & (r["jk_var"] >= 0)):
        bad.append("jackknife variances not finite and >= 0")
    return bad


WORKLOADS = {
    "weights": Workload(weights_setup, weights_op, weights_check, 2,
                        weights_final_check),
    "variance": Workload(variance_setup, variance_op, variance_check, 2),
    # one operation costs 12-16 s; a second would not fit the time budget
    "sim_replicate": Workload(sim_setup, sim_op, sim_check, 1),
}
