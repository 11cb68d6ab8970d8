import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from rastertiler_rs_spark.session import get_spark

    s = get_spark("tests", cpus=8, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` → the ids of the Spark jobs ``fn()`` runs."""
    import uuid

    sc = spark.sparkContext

    def count(fn):
        group = f"jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return sorted(sc.statusTracker().getJobIdsForGroup(group))

    return count
