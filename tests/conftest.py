from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Heap of the test JVM (and of any JVM a test starts in a subprocess).
# The engine's 16g default is sized for bench runs; on a 16 GB machine
# the test JVM grew to 15.4 GB resident under it and was ended by the
# kernel's OOM killer partway through the suite.  The tests run on
# sf0.001-sized inputs; 4g is what surveybench pins as well.  Set before
# ``session`` is imported, which reads it at import time.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")

from data_integration_with_pseudoweights_and_survey_calibration_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    s = get_spark("tests", **{"spark.sql.shuffle.partitions": "4"})
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture
def distributed(monkeypatch):
    """Force ``cox_fit``/``weighted_logistic`` onto the distributed
    Newton/IRLS loop by lowering the driver-route cutoff to 0 rows."""
    from data_integration_with_pseudoweights_and_survey_calibration_spark import dense

    monkeypatch.setattr(dense, "DRIVER_FIT_ROWS", 0)
