"""Unit tests for the core kernel: design matrix, Gram aggregation,
weighted moments, weighted logistic IRLS, IPSW/KW pseudo-weights.
Oracles are NumPy reimplementations on collected pandas data (SURVEY §5
unit-test plan)."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from data_integration_with_pseudoweights_and_survey_calibration_spark.functions.design import (
    DesignMatrix,
)
from data_integration_with_pseudoweights_and_survey_calibration_spark.functions.stats import (
    weighted_mean,
    weighted_total,
    weighted_var,
)
from data_integration_with_pseudoweights_and_survey_calibration_spark.operators.glm import (
    weighted_linear,
    weighted_logistic,
)
from data_integration_with_pseudoweights_and_survey_calibration_spark.operators.gram import (
    cross_gram,
    gram,
    gram_and_xtwz,
)
from data_integration_with_pseudoweights_and_survey_calibration_spark.operators.pseudoweights import (
    bw_nrd0,
    kw_weights,
    stack_samples,
)


def _toy(spark, n=500, seed=7):
    rng = np.random.default_rng(seed)
    pdf = pd.DataFrame(
        {
            "id": np.arange(n, dtype=np.int64),
            "x1": rng.normal(0, 2, n),
            "x2": rng.normal(0, 1, n),
            "w": rng.uniform(0.5, 3.0, n),
        }
    )
    logits = -0.3 + 0.4 * pdf.x1 - 0.6 * pdf.x2
    pdf["y"] = (rng.uniform(size=n) < 1 / (1 + np.exp(-logits))).astype(np.int32)
    return spark.createDataFrame(pdf), pdf


def test_design_matrix_formula():
    dm = DesignMatrix("x1 + x2 + x1:x2")
    assert dm.names == ["_icpt", "x1", "x2", "x1_x_x2"]
    dm2 = DesignMatrix("x1*d + x2*d")
    assert dm2.names == ["_icpt", "x1", "d", "x1_x_d", "x2", "x2_x_d"]
    dm3 = DesignMatrix("0 + x1")
    assert dm3.names == ["x1"]


def test_weighted_moments(spark):
    df, pdf = _toy(spark)
    row = df.agg(
        weighted_total("x1", "w").alias("tot"),
        weighted_mean("x1", "w").alias("mean"),
        weighted_var("x1", "w").alias("var"),
    ).collect()[0]
    w, x = pdf.w.values, pdf.x1.values
    assert row["tot"] == pytest.approx((w * x).sum(), rel=1e-12)
    assert row["mean"] == pytest.approx((w * x).sum() / w.sum(), rel=1e-12)
    mu = (w * x).sum() / w.sum()
    assert row["var"] == pytest.approx((w * (x - mu) ** 2).sum() / w.sum(), rel=1e-9)


def test_gram_matches_numpy(spark):
    df, pdf = _toy(spark)
    df2, cols = DesignMatrix("x1 + x2").attach(df)
    X = np.column_stack([np.ones(len(pdf)), pdf.x1, pdf.x2])
    w = pdf.w.values
    G = gram(df2, cols, "w")
    np.testing.assert_allclose(G, X.T @ (w[:, None] * X), rtol=1e-12)
    G2, xz = gram_and_xtwz(df2, cols, "y", "w")
    np.testing.assert_allclose(xz, X.T @ (w * pdf.y.values), rtol=1e-12)
    C = cross_gram(df2, cols, ["x1", "x2"], "w")
    Y = np.column_stack([pdf.x1, pdf.x2])
    np.testing.assert_allclose(C, X.T @ (w[:, None] * Y), rtol=1e-12)


def _irls_numpy(X, y, w, max_iter=25, tol=1e-10):
    beta = np.zeros(X.shape[1])
    for _ in range(max_iter):
        eta = X @ beta
        mu = 1 / (1 + np.exp(-eta))
        mu = np.clip(mu, 1e-12, 1 - 1e-12)
        W = w * mu * (1 - mu)
        z = eta + (y - mu) / (mu * (1 - mu))
        nb = np.linalg.solve(X.T @ (W[:, None] * X), X.T @ (W * z))
        if np.max(np.abs(nb - beta)) < tol:
            beta = nb
            break
        beta = nb
    return beta


def test_weighted_logistic_irls(spark):
    df, pdf = _toy(spark, n=800)
    df2, cols = DesignMatrix("x1 + x2").attach(df)
    fit = weighted_logistic(df2, cols, "y", "w")
    X = np.column_stack([np.ones(len(pdf)), pdf.x1, pdf.x2])
    ref = _irls_numpy(X, pdf.y.values.astype(float), pdf.w.values)
    assert fit.converged
    np.testing.assert_allclose(fit.beta, ref, atol=1e-8)
    # fitted values expression matches sigmoid(X beta)
    got = df2.select(fit.mu().alias("mu")).limit(5).collect()
    eta = X[:5] @ fit.beta
    np.testing.assert_allclose([r["mu"] for r in got], 1 / (1 + np.exp(-eta)), rtol=1e-9)


def test_weighted_logistic_irls_distributed(spark, distributed):
    """The same golden on the distributed IRLS loop."""
    test_weighted_logistic_irls(spark)


def test_weighted_logistic_ridge_golden(spark):
    """Ridge IRLS (round 5) vs the dense mirror: same update with
    lambda*I added to the Gram, intercept unpenalized; ridge=0 must
    reproduce the unpenalized fit exactly."""
    df, pdf = _toy(spark, n=800)
    df2, cols = DesignMatrix("x1 + x2").attach(df)
    lam = 3.7
    fit = weighted_logistic(df2, cols, "y", "w", ridge=lam, ridge_skip=(cols[0],))
    assert fit.converged

    def _irls_ridge(X, y, w, pen, max_iter=25, tol=1e-10):
        beta = np.zeros(X.shape[1])
        for it in range(1, max_iter + 1):
            if it == 1:
                mu0 = (w * y + 0.5) / (w + 1.0)
                mu = np.clip(mu0, 1e-12, 1 - 1e-12)
                eta = np.log(mu / (1 - mu))
            else:
                eta = X @ beta
                mu = np.clip(1 / (1 + np.exp(-eta)), 1e-12, 1 - 1e-12)
            W = w * mu * (1 - mu)
            z = eta + (y - mu) / (mu * (1 - mu))
            nb = np.linalg.solve(
                X.T @ (W[:, None] * X) + np.diag(pen), X.T @ (W * z)
            )
            if it > 1 and np.max(np.abs(nb - beta)) < tol:
                return nb
            beta = nb
        return beta

    X = np.column_stack([np.ones(len(pdf)), pdf.x1, pdf.x2])
    pen = np.array([0.0, lam, lam])
    ref = _irls_ridge(X, pdf.y.values.astype(float), pdf.w.values, pen)
    np.testing.assert_allclose(fit.beta, ref, atol=1e-8)
    # ridge shrinks slopes toward 0 relative to the MLE
    mle = weighted_logistic(df2, cols, "y", "w")
    assert all(abs(b) < abs(m) for b, m in zip(fit.beta[1:], mle.beta[1:]))
    # ridge=0 path unchanged
    fit0 = weighted_logistic(df2, cols, "y", "w", ridge=0.0)
    np.testing.assert_allclose(fit0.beta, mle.beta, atol=1e-12)


def test_weighted_logistic_ridge_golden_distributed(spark, distributed):
    """The same golden on the distributed IRLS loop."""
    test_weighted_logistic_ridge_golden(spark)


def test_weighted_linear_closed_form(spark):
    df, pdf = _toy(spark)
    df2, cols = DesignMatrix("x1 + x2").attach(df)
    fit = weighted_linear(df2, cols, "x1", "w")  # regress x1 on itself: recovers e1
    np.testing.assert_allclose(fit.beta, [0.0, 1.0, 0.0], atol=1e-8)


def test_stack_samples(spark):
    c = spark.createDataFrame(pd.DataFrame({"id": [1, 2], "x1": [0.1, 0.2], "wt": [5.0, 6.0]}))
    s = spark.createDataFrame(pd.DataFrame({"id": [3], "x1": [0.3], "wt": [7.0]}))
    out = stack_samples(c, s, "wt", sampling_fraction=0.5).orderBy("id").collect()
    assert [r["trt"] for r in out] == [1, 1, 0]
    assert [r["w"] for r in out] == [1.0, 1.0, 7.0]
    assert [r["w_s"] for r in out] == [1.0, 1.0, 3.5]


def test_bw_nrd0_parity(spark):
    rng = np.random.default_rng(3)
    x = rng.normal(0, 1.7, 400)
    df = spark.createDataFrame(pd.DataFrame({"v": x}))
    got = bw_nrd0(df, "v")
    sd = x.std(ddof=1)
    iqr = np.quantile(x, 0.75) - np.quantile(x, 0.25)  # type 7 default
    want = 0.9 * min(sd, iqr / 1.34) * len(x) ** (-0.2)
    assert got == pytest.approx(want, rel=1e-9)
    # sketch path (extreme-scale option): within the sketch's error
    got_approx = bw_nrd0(df, "v", approx=10_000)
    assert got_approx == pytest.approx(want, rel=1e-2)


def _kw_dense(ps_c, ps_s, wt_s, h, rm_s=False):
    """Dense NumPy oracle of krnwt (simu_fun.R:168-211 semantics)."""
    z = (ps_s[:, None] - ps_c[None, :]) / h
    k = np.exp(-z * z / 2) / math.sqrt(2 * math.pi)
    rs = k.sum(axis=1)
    zero = rs == 0
    if zero.any():
        if rm_s:
            rs[zero] = 1.0
        else:
            k[zero, :] = 1.0 / len(ps_c)
            rs[zero] = 1.0
    krn = k / rs[:, None]
    return (krn * wt_s[:, None]).sum(axis=0)


def test_kw_weights_match_dense(spark):
    rng = np.random.default_rng(11)
    n_c, n_s = 120, 60
    ps_c = rng.normal(0, 1, n_c)
    ps_s = rng.normal(0.3, 1.1, n_s)
    # plant an unmatched survey unit far away from every cohort score
    ps_s[0] = 500.0
    wt_s = rng.uniform(1, 10, n_s)
    c = spark.createDataFrame(pd.DataFrame({"id": np.arange(n_c), "p_score": ps_c}))
    s = spark.createDataFrame(
        pd.DataFrame({"id": np.arange(n_s), "p_score": ps_s, "wt": wt_s})
    )
    res = kw_weights(c, s, weight_col="wt")
    got = (
        res.weights.orderBy("id").toPandas().kw.values
    )
    want = _kw_dense(ps_c, ps_s, wt_s, res.bandwidth)
    np.testing.assert_allclose(got, want, rtol=1e-10, atol=1e-12)
    assert res.n_unmatched == 1
    # weight-sum invariant: sum(kw) == sum(wt_s) when rm_s=False
    assert got.sum() == pytest.approx(wt_s.sum(), rel=1e-10)

    res2 = kw_weights(c, s, weight_col="wt", rm_s=True)
    got2 = res2.weights.orderBy("id").toPandas().kw.values
    want2 = _kw_dense(ps_c, ps_s, wt_s, res2.bandwidth, rm_s=True)
    np.testing.assert_allclose(got2, want2, rtol=1e-10, atol=1e-12)
    assert got2.sum() == pytest.approx(wt_s[1:].sum(), rel=1e-10)


def test_kw_gamma_derivative_vs_dense(spark):
    """I4 ``pw_beta`` (simu_fun.R:191-205): banded pair-table derivative
    equals the dense kernel-matrix mirror."""
    rng = np.random.default_rng(17)
    n_c, n_s = 120, 70
    c = pd.DataFrame(
        {
            "id": np.arange(n_c, dtype=np.int64),
            "p_score": rng.normal(0, 1, n_c),
            "x1": rng.normal(0, 1, n_c),
        }
    )
    c["_icpt"] = 1.0
    s = pd.DataFrame(
        {
            "id": np.arange(n_s, dtype=np.int64),
            "p_score": rng.normal(0.2, 1, n_s),
            "wt": rng.uniform(1, 6, n_s),
            "x1": rng.normal(0, 1, n_s),
        }
    )
    s["_icpt"] = 1.0
    h = 0.25
    res = kw_weights(
        spark.createDataFrame(c),
        spark.createDataFrame(s),
        weight_col="wt",
        h=h,
        deriv_cols=["_icpt", "x1"],
    )
    got = res.weights.toPandas().set_index("id").sort_index()

    # dense mirror
    dist = s["p_score"].to_numpy()[:, None] - c["p_score"].to_numpy()[None, :]
    k = np.exp(-((dist / h) ** 2) / 2) / np.sqrt(2 * np.pi)
    rs = k.sum(axis=1)
    kw_dense = ((k / rs[:, None]) * s["wt"].to_numpy()[:, None]).sum(axis=0)
    np.testing.assert_allclose(got["kw"].to_numpy(), kw_dense, rtol=1e-9)
    for name, xc, xs in (("kw_g__icpt", c["_icpt"], s["_icpt"]), ("kw_g_x1", c["x1"], s["x1"])):
        dx = xs.to_numpy()[:, None] - xc.to_numpy()[None, :]
        kij = -k * dist * dx / h / h
        rkij = kij.sum(axis=1)
        wt = s["wt"].to_numpy()
        deriv1 = (wt / rs) @ kij
        deriv2 = -(wt * rkij / rs / rs) @ k
        np.testing.assert_allclose(
            got[name].to_numpy(), deriv1 + deriv2, rtol=1e-8, atol=1e-12
        )


def test_kw_triangular_kernel_vs_dense(spark):
    """Triangular-kernel KW weights AND gamma-derivative (krnwt with
    krn='triang', simu_fun.R:129,168-205: same kij pair formula, K
    triangular) against the dense mirror, both impls."""
    rng = np.random.default_rng(23)
    n_c, n_s = 110, 60
    c = pd.DataFrame(
        {
            "id": np.arange(n_c, dtype=np.int64),
            "p_score": rng.normal(0, 1, n_c),
            "x1": rng.normal(0, 1, n_c),
        }
    )
    s = pd.DataFrame(
        {
            "id": np.arange(n_s, dtype=np.int64),
            "p_score": rng.normal(0.2, 1, n_s),
            "wt": rng.uniform(1, 6, n_s),
            "x1": rng.normal(0, 1, n_s),
        }
    )
    h = 0.6
    dist = s["p_score"].to_numpy()[:, None] - c["p_score"].to_numpy()[None, :]
    k = np.maximum(0.0, 1.0 - np.abs(dist / h))
    rs = k.sum(axis=1)
    assert (rs > 0).all()  # draw keeps every survey row matched
    wt = s["wt"].to_numpy()
    kw_dense = ((k / rs[:, None]) * wt[:, None]).sum(axis=0)
    dx = s["x1"].to_numpy()[:, None] - c["x1"].to_numpy()[None, :]
    kij = -k * dist * dx / h / h
    rkij = kij.sum(axis=1)
    deriv_dense = (wt / rs) @ kij - (wt * rkij / rs / rs) @ k
    for impl in ("block", "sql"):
        res = kw_weights(
            spark.createDataFrame(c),
            spark.createDataFrame(s),
            weight_col="wt",
            h=h,
            kernel="triang",
            deriv_cols=["x1"],
            impl=impl,
        )
        got = res.weights.toPandas().set_index("id").sort_index()
        np.testing.assert_allclose(got["kw"].to_numpy(), kw_dense, rtol=1e-9)
        np.testing.assert_allclose(
            got["kw_g_x1"].to_numpy(), deriv_dense, rtol=1e-8, atol=1e-12
        )
        assert got["kw"].sum() == pytest.approx(wt.sum(), rel=1e-9)
