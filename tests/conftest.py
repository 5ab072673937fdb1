from __future__ import annotations

import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from prometheus_anomaly_detection_lstm_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
# The driver grades CORRECTNESS at sf0.01, so the local parity sweep
# defaults to the SAME scale — scale-sensitive regressions (e.g. the
# Spark 4.1 sessionize NTZ cast) must surface in plain `pytest`, not
# only in manual driver-sim runs (round-3 verdict task 5).  Override
# with SPARK_GRAFT_TEST_SF for a faster sf0.001 iteration loop.
SF_ORACLE = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark("tests")
    yield s


@pytest.fixture()
def count_jobs(spark):
    """``count_jobs(fn) -> (fn(), Spark jobs fn ran)``, counted under a
    fresh job group through the status tracker."""
    sc = spark.sparkContext

    def run(fn):
        group = f"count-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
