import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from petastorm_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# get_spark's default driver heap is half of physical memory, capped at
# 48g. The old fixed 48g let the test JVM grow until the kernel's OOM
# killer ended it mid-suite (measured on a 16 GB, 4-vCPU host: ~15 GB
# resident, every later test failing with ConnectionRefusedError), and
# the sf0.001 tests need far less than half of any host.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: launches several JVMs or builds a JVM archive (~1 min)"
    )


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("petastorm_spark_tests", cpus=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
