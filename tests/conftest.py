from __future__ import annotations

import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

# session.driver_memory() sizes the driver heap (half the RAM or of a lower
# cgroup limit, at most 48g; SPARK_GRAFT_DRIVER_MEM overrides it). Let G1
# hand idle heap back to the OS: some tests hold ~10 GB in this process
# (DuckDB oracles) while the JVM sits idle.
os.environ.setdefault("JAVA_TOOL_OPTIONS", "-XX:G1PeriodicGCInterval=5000")

from crdb_changefeed_publisher_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
