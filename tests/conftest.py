import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gomaxscale_spark.session import get_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    return get_session("gomaxscale_spark_tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def spark_jobs(spark):
    """``spark_jobs(fn)``: ``fn()``'s result and the number of Spark jobs
    it ran."""
    sc = spark.sparkContext

    def run(fn):
        group = f"spark_jobs:{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: long-running subprocess/JVM tests (deselect with -m 'not slow')"
    )
