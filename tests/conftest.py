import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from petastorm_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# get_spark defaults to a 48g driver heap. On a small machine the test
# JVM then grows until the kernel's OOM killer ends it mid-suite
# (measured on a 16 GB, 4-vCPU host: ~15 GB resident, every later test
# failing with ConnectionRefusedError). The sf0.001 tests need far less.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("petastorm_spark_tests", cpus=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
