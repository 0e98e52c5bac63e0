import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest


@pytest.fixture(scope="session")
def spark():
    from gdal_spark.session import get_spark

    s = get_spark(app_name="gdal-spark-tests")
    # codegen gate: a janino compile failure (e.g. a generated method past
    # the JVM's 64 KB limit) fails the test instead of silently dropping
    # the stage to interpreted mode
    s.conf.set("spark.sql.codegen.fallback", "false")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
