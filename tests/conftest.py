import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")


@pytest.fixture(scope="session")
def spark():
    from feature_extractor_spark.session import get_spark

    s = get_spark("fx-tests", cores=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    yield s


@pytest.fixture(scope="session")
def sf_small():
    return f"{TESTDATA}/sf0.001"


@pytest.fixture(scope="session")
def sf_mid():
    return f"{TESTDATA}/sf0.01"


@pytest.fixture
def small_range_sample(spark):
    """Two sampled rows per range-exchange partition during the test, then
    the previous setting: range bounds drawn by two separate exchanges then
    differ at any core count, so a scan whose branches plan their own
    exchange disagrees on which partition a row is in."""
    key = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "2")
    yield
    if prev is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, prev)


class JobCount:
    """``with JobCount(spark) as jobs: ...`` then ``jobs.n``: the Spark jobs
    run inside the block, tagged by a job group of their own (jobs started
    from other threads carry the caller's local properties)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.group = f"job-count-{uuid.uuid4().hex}"
        self.n = None

    def __enter__(self):
        self.prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", self.group)
        return self

    def __exit__(self, *exc):
        self.sc.setLocalProperty("spark.jobGroup.id", self.prev)
        # job-start events reach the status store through the listener bus
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        self.n = len(self.sc.statusTracker().getJobIdsForGroup(self.group))
        return False
