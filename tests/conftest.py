from __future__ import annotations

import os

import pytest

SF_SMALL = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from data_framework_spark.session import get_spark

    s = get_spark("data_framework_spark-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMALL


@pytest.fixture(scope="session")
def jobs_started():
    """`jobs_started(spark, fn)`: the Spark jobs `fn()` starts, counted
    through a job group and the status tracker once the listener bus
    has delivered every event."""
    import uuid

    def count(spark, fn) -> int:
        sc = spark.sparkContext
        group = f"jobs-started-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "job-count pin")
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count
