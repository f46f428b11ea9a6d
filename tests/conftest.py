import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from tilemaker_spark.session import get_spark

    # get_spark's 24g default heap outgrows a 15 GB host mid-suite and
    # the JVM is OOM-killed; the suite fits in 3g
    os.environ.setdefault("SPARK_DRIVER_MEM", "3g")
    s = get_spark(app_name="tests", cpus=int(os.environ.get("SPARK_GRAFT_TEST_CPUS", "8")))
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def duck(spark):
    from oracle_compare import duck_connection

    return duck_connection(SF_DIR)
