import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from osm2garmin_spark.session import get_spark

    # the session default (48g max heap) let the whole suite's JVM grow
    # until the OS killed it on a 15 GB machine
    os.environ.setdefault("SPARK_DRIVER_MEM", "4g")
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
