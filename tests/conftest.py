import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kgspark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(
        app_name="kgspark-tests",
        master=os.environ.get("KGSPARK_TEST_MASTER", "local[4]"),
        shuffle_partitions=8,
    )
    yield spark


@pytest.fixture
def spark_jobs(spark):
    """`run(fn)` -> (fn(), number of Spark jobs fn launched), counted
    through a job group of its own."""
    sc = spark.sparkContext

    def run(fn):
        group = f"test-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # the status store learns of jobs through the asynchronous
        # listener bus: drain it before counting
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
