"""Route parity for the small-sample driver fits.

``cox_fit`` and ``weighted_logistic`` fit a sample of at most
``dense.DRIVER_FIT_ROWS`` rows on the driver (``dense.dense_cox`` /
``dense.dense_logistic``) and larger ones with the distributed
Newton/IRLS loop.  Forcing each route on the same data (cutoff 0 vs the
default) must give the same fit to 1e-10 and the same iteration count,
and a Cox sample without events must fail the same way on both.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from data_integration_with_pseudoweights_and_survey_calibration_spark import dense
from data_integration_with_pseudoweights_and_survey_calibration_spark.operators.cox import (
    cox_fit,
)
from data_integration_with_pseudoweights_and_survey_calibration_spark.operators.glm import (
    weighted_logistic,
)


def _both_routes(monkeypatch, fit):
    """(driver fit, distributed fit) of the thunk ``fit``."""
    driver = fit()
    with monkeypatch.context() as m:
        m.setattr(dense, "DRIVER_FIT_ROWS", 0)

        def no_dense(*a, **k):
            raise AssertionError("cutoff 0 must take the distributed route")

        m.setattr(dense, "dense_cox", no_dense)
        m.setattr(dense, "dense_logistic", no_dense)
        distributed = fit()
    return driver, distributed


def _assert_same(a, b, hessian=False):
    np.testing.assert_allclose(a.beta, b.beta, rtol=1e-10, atol=1e-10)
    if hessian:
        np.testing.assert_allclose(a.hessian, b.hessian, rtol=1e-10, atol=1e-10)
    assert a.n_iter == b.n_iter
    assert a.converged == b.converged


def _cox_frame(spark, n=300, seed=21):
    rng = np.random.default_rng(seed)
    x1, x2 = rng.normal(0, 1, n), rng.normal(0, 1, n)
    t_ev = rng.exponential(1 / np.exp(0.5 * x1 - 0.3 * x2))
    cens = rng.exponential(2.0, n)
    t = np.round(np.minimum(t_ev, cens), 1)  # heavy ties
    w = rng.uniform(0.5, 4.0, n)
    w[rng.uniform(size=n) < 0.1] = 0.0  # zero-weight rows
    pdf = pd.DataFrame(
        {"x1": x1, "x2": x2, "t": t, "d": (t_ev <= cens).astype(np.int32), "w": w}
    )
    return spark.createDataFrame(pdf)


@pytest.mark.parametrize("init", [None, [0.2, -0.1]])
def test_cox_fit_routes_agree(spark, monkeypatch, init):
    df = _cox_frame(spark)
    driver, distributed = _both_routes(
        monkeypatch, lambda: cox_fit(df, ["x1", "x2"], init=init)
    )
    assert driver.converged
    _assert_same(driver, distributed, hessian=True)
    assert driver.score_norm < 1e-6 and distributed.score_norm < 1e-6


def test_cox_fit_routes_agree_unconverged(spark, monkeypatch):
    """A fit cut at max_iter reports the same state on both routes."""
    df = _cox_frame(spark)
    driver, distributed = _both_routes(
        monkeypatch, lambda: cox_fit(df, ["x1", "x2"], max_iter=2)
    )
    assert driver.n_iter == 2 and not driver.converged
    _assert_same(driver, distributed, hessian=True)


def _logit_frame(spark, n=600, seed=4):
    rng = np.random.default_rng(seed)
    x1, x2 = rng.normal(0, 2, n), rng.normal(0, 1, n)
    y = rng.uniform(size=n) < 1 / (1 + np.exp(-(-0.3 + 0.4 * x1 - 0.6 * x2)))
    pdf = pd.DataFrame(
        {"one": 1.0, "x1": x1, "x2": x2, "y": y.astype(np.int32),
         "w": rng.uniform(0.5, 3.0, n)}
    )
    return spark.createDataFrame(pdf)


@pytest.mark.parametrize(
    "weight, ridge",
    [("none", 0.0), ("str", 0.0), ("column", 0.0), ("str", 3.7)],
    ids=["none", "str", "column", "ridge"],
)
def test_weighted_logistic_routes_agree(spark, monkeypatch, weight, ridge):
    df = _logit_frame(spark)
    weight = {"none": None, "str": "w", "column": F.col("w") * 2.5}[weight]
    cols = ["one", "x1", "x2"]
    driver, distributed = _both_routes(
        monkeypatch,
        lambda: weighted_logistic(
            df, cols, "y", weight, ridge=ridge, ridge_skip=("one",)
        ),
    )
    assert driver.converged
    _assert_same(driver, distributed)


@pytest.mark.parametrize("route", ["driver", "distributed"])
@pytest.mark.parametrize("case", ["all_censored", "zero_event_weight"])
def test_cox_fit_no_events_raises(spark, monkeypatch, route, case):
    """No events is an error on both routes, never NaN coefficients."""
    pdf = _cox_frame(spark).toPandas()
    if case == "all_censored":
        pdf["d"] = 0
    else:
        pdf.loc[pdf.d == 1, "w"] = 0.0
    if route == "distributed":
        monkeypatch.setattr(dense, "DRIVER_FIT_ROWS", 0)
    with pytest.raises(ValueError, match="no events"):
        cox_fit(spark.createDataFrame(pdf), ["x1", "x2"])


def test_dense_cox_no_events_raises():
    x = np.zeros((5, 1))
    with pytest.raises(ValueError, match="no events"):
        dense.dense_cox(x, np.arange(5.0), np.zeros(5), np.ones(5))
