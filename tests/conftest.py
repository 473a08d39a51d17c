import itertools
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from osmium_tool_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("osmium-tool-spark-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

_groups = itertools.count()


def job_count(spark, run) -> int:
    """Spark jobs launched by run() with AQE off. AQE runs each shuffle
    stage as its own job; without it a job is an action, an eager step
    or a broadcast."""
    sc = spark.sparkContext
    saved = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    group = f"job-count-{next(_groups)}"
    try:
        sc.setJobGroup(group, "job count")
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.adaptive.enabled", saved)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def distributed_ids(spark):
    """Send getid -r and renumber down their distributed path: with
    broadcasts disabled no input is small enough to keep its id sets on
    the driver."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    spark.conf.set(key, "-1")
    yield
    spark.conf.set(key, saved)
