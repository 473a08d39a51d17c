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
