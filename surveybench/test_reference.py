"""Hand-checkable cases for the NumPy references the benchmark checks
the program against.  Run: python3 -m pytest surveybench/test_reference.py
"""

import math

import numpy as np

import reference as ref


def test_logistic_intercept_only_is_log_odds():
    x = np.ones((4, 1))
    y = np.array([1.0, 1.0, 1.0, 0.0])
    beta = ref.logistic_fit(x, y, np.ones(4))
    assert abs(beta[0] - math.log(3.0)) < 1e-12
    assert abs(ref.logistic_score(x, y, np.ones(4), beta)[0]) < 1e-12


def test_logistic_weights_act_as_replication():
    x = np.ones((2, 1))
    y = np.array([1.0, 0.0])
    beta = ref.logistic_fit(x, y, np.array([1.0, 4.0]))
    assert abs(beta[0] - math.log(1.0 / 4.0)) < 1e-12


def test_nrd0_matches_r():
    # R: bw.nrd0(1:5) = 0.9 * min(sd, IQR/1.34) * 5^-0.2 = 0.9736...
    h = ref.nrd0(np.arange(1.0, 6.0))
    assert abs(h - 0.9 * (2.0 / 1.34) * 5 ** -0.2) < 1e-12


def test_kw_splits_survey_weight_between_equidistant_units():
    kw = ref.kw_weights(np.array([-1.0, 1.0]), np.array([0.0]), np.array([10.0]),
                        h=1.0, kernel="dnorm")
    assert np.allclose(kw, [5.0, 5.0])


def test_kw_triangular_and_unmatched_weight():
    # survey unit at 0 sees only the cohort unit at 0.5 (z = 0.5 < 1);
    # the one at 5 has no cohort unit in support: its weight is spread evenly
    kw = ref.kw_weights(np.array([0.5, 3.0]), np.array([0.0, 5.0]),
                        np.array([2.0, 6.0]), h=1.0, kernel="triang")
    assert np.allclose(kw, [2.0 + 3.0, 3.0])
    assert math.isclose(kw.sum(), 8.0)


def test_cox_symmetric_tie_has_zero_beta():
    x = np.array([[0.0], [1.0], [0.0], [1.0]])
    beta = ref.cox_fit(x, np.array([1.0, 1.0, 2.0, 2.0]),
                       np.array([1, 1, 0, 0]), np.ones(4))
    assert abs(beta[0]) < 1e-12


def test_cox_weighted_breslow_closed_form():
    # risk set at t=1: A (x=1, w=2), B (x=0, w=1, censored at 2), C (x=0, w=1);
    # events A and C: log L = 2 beta - 3 log(2 e^beta + 2), maximised at e^beta = 2
    x = np.array([[1.0], [0.0], [0.0]])
    beta = ref.cox_fit(x, np.array([1.0, 2.0, 1.0]), np.array([1, 0, 1]),
                       np.array([2.0, 1.0, 1.0]))
    assert abs(beta[0] - math.log(2.0)) < 1e-10


def test_close_rejects_nan_and_shape():
    assert ref.close([1.0], [1.0 + 1e-12], 1e-9)
    assert not ref.close([float("nan")], [1.0], 1e-9)
    assert not ref.close([1.0, 2.0], [1.0], 1e-9)
