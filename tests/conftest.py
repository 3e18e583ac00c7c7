from __future__ import annotations

import os

import pytest
from pyspark.sql import SparkSession

os.environ.setdefault("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    from google_sheets_etl_spark.session import get_spark

    # small shuffle width for tiny test data; prod default comes from env
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark("sheets-etl-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return os.environ["SPARK_GRAFT_SF_DIR"]


@pytest.fixture()
def jobs_started(spark):
    """``jobs_started(group, fn)``: run ``fn()`` under the Spark job
    group ``group`` and return how many jobs it started. Job events
    reach the status tracker asynchronously, so the listener bus is
    drained before counting."""
    def count(group: str, fn) -> int:
        sc = spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count
