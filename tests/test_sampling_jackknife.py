"""Tests for sampling operators (G1-G5, F7) and the grouped jackknife
(I22): weight formulas, determinism, replicate algebra vs brute force,
and the grouped-map refit path vs per-replicate dense fits."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from data_integration_with_pseudoweights_and_survey_calibration_spark.dense import (
    dense_cox,
    dense_logistic,
)
from data_integration_with_pseudoweights_and_survey_calibration_spark.operators.jackknife import (
    jk_linear_replicates,
    jk_refit_grouped,
    jk_refit_loop,
    jk_variance,
)
from data_integration_with_pseudoweights_and_survey_calibration_spark.operators.sampling import (
    assign_jk_groups,
    poisson_sample,
    pps_sample,
    srs_sample,
    stratified_sample,
    two_stage_sample,
)


def _pop(spark, n=2000, seed=2):
    rng = np.random.default_rng(seed)
    pdf = pd.DataFrame(
        {
            "id": np.arange(n, dtype=np.int64),
            "x": rng.normal(1, 0.2, n),
            "size": rng.uniform(0.5, 5.0, n),
            "psu": (np.arange(n) % 40).astype(np.int32),
            "pi": rng.uniform(0.05, 0.5, n),
        }
    )
    return spark.createDataFrame(pdf), pdf


def test_pps_sample_weights_and_determinism(spark):
    df, pdf = _pop(spark)
    s1 = pps_sample(df, "size", 100, seed=42).toPandas()
    s2 = pps_sample(df, "size", 100, seed=42).toPandas()
    assert len(s1) == 100
    pd.testing.assert_frame_equal(
        s1.sort_values("id").reset_index(drop=True),
        s2.sort_values("id").reset_index(drop=True),
    )
    total = pdf["size"].sum()
    np.testing.assert_allclose(s1["wt"], total / (100 * s1["size"]), rtol=1e-12)
    # PPS tilts selection toward large sizes
    assert s1["size"].mean() > pdf["size"].mean()


def test_pps_sample_deterministic_uniform(spark):
    """A supplied hashed uniform makes the E-S sample independent of
    input partitioning (exactly reproducible after repartition)."""
    df, pdf = _pop(spark)
    u = (
        F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 12), 16, 10).cast(
            "long"
        )
        + F.lit(1.0)
    ) / F.lit(2.0**48)
    s1 = pps_sample(df, "size", 50, u=u).toPandas().sort_values("id")
    s2 = pps_sample(df.repartition(7), "size", 50, u=u).toPandas().sort_values("id")
    assert list(s1["id"]) == list(s2["id"])
    total = pdf["size"].sum()
    np.testing.assert_allclose(s1["wt"], total / (50 * s1["size"]), rtol=1e-12)


def test_srs_and_poisson_weights(spark):
    df, pdf = _pop(spark)
    s = srs_sample(df, 200, seed=1).toPandas()
    assert len(s) == 200 and (s["wt"] == len(pdf) / 200).all()
    p = poisson_sample(df, "pi", seed=1).toPandas()
    np.testing.assert_allclose(p["wt"], 1 / p["pi"], rtol=1e-12)
    # loose count check: E[n] = sum(pi)
    assert abs(len(p) - pdf["pi"].sum()) < 4 * np.sqrt(pdf["pi"].sum())


def test_two_stage_sample(spark):
    df, pdf = _pop(spark)
    out = two_stage_sample(
        df, "psu", n_clusters=10, n_per_cluster=5, size_col="size", seed=7
    ).toPandas()
    assert len(out) == 50
    assert out["psu"].nunique() == 10
    # weight = (M/m) * S_psu/(n_ii * size)
    sizes = pdf.groupby("psu")["size"].sum()
    for _, r in out.iterrows():
        expect = (40 / 10) * sizes[r["psu"]] / (5 * r["size"])
        assert r["wt"] == pytest.approx(expect, rel=1e-10)


def test_assign_jk_groups(spark):
    df, _ = _pop(spark, n=600)
    g = assign_jk_groups(df, 6, seed=3).toPandas()
    assert set(g["jk_group"].unique()) <= set(range(1, 7))
    counts = g["jk_group"].value_counts()
    assert counts.min() > 40  # roughly balanced hash split
    g2 = assign_jk_groups(df, 6, seed=3, method="ntile").toPandas()
    assert sorted(g2["jk_group"].value_counts()) == [100] * 6


def test_jk_linear_replicates_vs_bruteforce(spark):
    df, pdf = _pop(spark, n=500)
    df = assign_jk_groups(df, 5, seed=9)
    pdfg = df.toPandas()
    reps = jk_linear_replicates(
        df,
        {"tot_x": F.sum(F.col("size") * F.col("x"))},
        5,
    ).toPandas().set_index("replicate").sort_index()
    for k in range(1, 6):
        kept = pdfg[pdfg.jk_group != k]
        brute = (kept["size"] * kept["x"]).sum() * 5 / 4
        assert reps.loc[k, "tot_x"] == pytest.approx(brute, rel=1e-12)


def test_jk_variance_formula():
    rng = np.random.default_rng(4)
    theta = rng.normal(2.0, 0.1, (9, 2))  # 6 cohort + 3 survey replicates
    mean, var = jk_variance(theta, 6, 3)
    np.testing.assert_allclose(mean, theta.mean(axis=0))
    f = np.r_[np.full(6, 5 / 6), np.full(3, 2 / 3)]
    np.testing.assert_allclose(
        var, (f[:, None] * (theta - theta.mean(0)) ** 2).sum(0)
    )


def _toy_surv(n=240, seed=15):
    rng = np.random.default_rng(seed)
    pdf = pd.DataFrame(
        {
            "id": np.arange(n, dtype=np.int64),
            "x1": rng.normal(0, 1, n),
            "w": rng.uniform(0.5, 3.0, n),
        }
    )
    tt = rng.exponential(2.0, n) * np.exp(-0.4 * pdf.x1)
    cens = rng.exponential(3.0, n)
    pdf["t"] = np.minimum(tt, cens)
    pdf["d"] = (tt <= cens).astype(np.int32)
    return pdf


def test_jk_refit_grouped_cox_matches_dense(spark):
    pdf = _toy_surv()
    df = assign_jk_groups(spark.createDataFrame(pdf), 4, seed=5)
    groups = df.select("id", "jk_group").toPandas().set_index("id")["jk_group"]
    pdf = pdf.set_index("id")
    pdf["jk_group"] = groups
    pdf = pdf.reset_index()

    def fit(batch: pd.DataFrame) -> pd.DataFrame:
        beta = dense_cox(
            batch[["x1"]].to_numpy(),
            batch["t"].to_numpy(),
            batch["d"].to_numpy(),
            batch["w"].to_numpy(),
        ).beta
        return pd.DataFrame(
            {"replicate": [int(batch["replicate"].iloc[0])], "beta_x1": [beta[0]]}
        )

    got = (
        jk_refit_grouped(df, 4, fit, "replicate long, beta_x1 double")
        .toPandas()
        .set_index("replicate")
        .sort_index()
    )
    for k in range(1, 5):
        kept = pdf[pdf.jk_group != k]
        beta = dense_cox(
            kept[["x1"]].to_numpy(),
            kept["t"].to_numpy(),
            kept["d"].to_numpy(),
            kept["w"].to_numpy() * 4 / 3,
        ).beta
        assert got.loc[k, "beta_x1"] == pytest.approx(beta[0], abs=1e-9)
    # weight rescale is a no-op for Cox point estimates (scale-invariant
    # partial likelihood) but the plumbing must still apply it.


def test_jk_refit_loop_weighted_mean(spark):
    rng = np.random.default_rng(8)
    c = pd.DataFrame(
        {
            "id": np.arange(60, dtype=np.int64),
            "y": rng.normal(1, 1, 60),
            "w": np.ones(60),
            "wt": rng.uniform(1, 3, 60),
        }
    )
    s = pd.DataFrame(
        {
            "id": np.arange(30, dtype=np.int64),
            "y": rng.normal(2, 1, 30),
            "w": rng.uniform(1, 4, 30),
            "wt": rng.uniform(1, 4, 30),
        }
    )
    cdf = assign_jk_groups(spark.createDataFrame(c), 3, seed=1)
    sdf = assign_jk_groups(spark.createDataFrame(s), 2, seed=2)

    def estimator(cohort, survey):
        r = cohort.agg(
            (F.sum(F.col("wt") * F.col("y")) / F.sum("wt")).alias("m")
        ).collect()[0]
        return {"mean_c": r["m"]}

    out = jk_refit_loop(cdf, sdf, 3, 2, estimator)
    assert len(out) == 5
    theta = out.sort_values("replicate")["value"].to_numpy()[:, None]
    mean, var = jk_variance(theta, 3, 2)
    assert var[0] >= 0.0

    # brute-force check of one cohort replicate
    cg = cdf.toPandas()
    kept = cg[cg.jk_group != 1]
    brute = ((kept["wt"] * 1.5) * kept["y"]).sum() / (kept["wt"] * 1.5).sum()
    got = out[(out.replicate == 1)]["value"].iloc[0]
    assert got == pytest.approx(brute, rel=1e-12)


def test_stratified_sample_allocation_and_ht(spark):
    """Proportional allocation m_h = ceil(f n_h); HT weight n_h/m_h so
    the weighted sample count reproduces each stratum size exactly."""
    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 3).alias("stratum")
    )
    samp = stratified_sample(df, "stratum", 0.1, seed=3, wt_col="swt")
    out = samp.groupBy("stratum").agg(
        F.count(F.lit(1)).alias("m"), F.sum("swt").alias("ht")
    ).toPandas().set_index("stratum")
    # strata sizes: 334 (0), 333 (1), 333 (2); ceil(0.1*n_h) = 34 / 34 / 34
    assert out.loc[0, "m"] == 34 and out.loc[1, "m"] == 34
    assert out.loc[0, "ht"] == pytest.approx(334.0)
    assert out.loc[1, "ht"] == pytest.approx(333.0)


def test_weighted_quantiles_hand_case(spark):
    from data_integration_with_pseudoweights_and_survey_calibration_spark.functions.stats import (
        weighted_quantiles,
    )

    df = spark.createDataFrame(
        [(1.0, 1.0), (2.0, 1.0), (3.0, 8.0)], "x double, w double"
    )
    out = (
        weighted_quantiles(df, "x", "w", [0.1, 0.2, 0.5])
        .toPandas()
        .set_index("prob")["q"]
    )
    # cum shares: 0.1 @ x=1, 0.2 @ x=2, 1.0 @ x=3
    assert out[0.1] == 1.0 and out[0.2] == 2.0 and out[0.5] == 3.0
