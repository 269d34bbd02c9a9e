from __future__ import annotations

import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

# transformWithStateInPandas needs google.protobuf in the Spark-spawned
# Python workers. The container has no protobuf install, but the Cloud SDK
# bundles a pure-Python runtime; vendor/pbshim/sitecustomize.py wires it up
# in every child interpreter. Must happen BEFORE the JVM starts so workers
# inherit the env (see that file's docstring).
_PBSHIM = os.path.join(REPO_ROOT, "vendor", "pbshim")
_SDK_PB = "/usr/lib/google-cloud-sdk/platform/google_appengine"
try:
    import google.protobuf  # noqa: F401
except ImportError:
    if os.path.isdir(_SDK_PB):
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (_PBSHIM, os.environ.get("PYTHONPATH")) if p
        )

# session.get_spark defaults the driver heap to 48g. On a machine with less
# RAM than that the test JVM's heap grows until the kernel OOM-kills it part
# way through the suite, so cap the default at half the physical memory, and
# let G1 hand idle heap back to the OS: some tests hold ~10 GB in this
# process (DuckDB oracles) while the JVM sits idle.
_RAM_GB = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{min(48, max(2, _RAM_GB // 2))}g")
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
