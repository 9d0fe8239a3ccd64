import os
import sys
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from smcchecker_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("smcchecker-tests", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture()
def spark_jobs(spark):
    """``with spark_jobs("group") as jobs:`` runs the block in its own
    Spark job group; on exit ``jobs`` holds the ids of the jobs the
    block started."""
    sc = spark.sparkContext

    @contextmanager
    def group(name: str):
        jobs: list[int] = []
        sc.setJobGroup(name, name)
        try:
            yield jobs
            jobs.extend(sc.statusTracker().getJobIdsForGroup(name))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    return group
