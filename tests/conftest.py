from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flouds_vectordb_spark.session import get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"


# get_spark's 16g default heap leaves no room for the second JVM an
# example subprocess starts (tests/test_examples.py) on a 16 GB machine
TEST_DRIVER_MEMORY = "4g"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", TEST_DRIVER_MEMORY)
    s = get_spark("tests", shuffle_partitions=4)
    yield s
    s.stop()
