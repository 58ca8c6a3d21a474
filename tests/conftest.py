from __future__ import annotations

import os
import sys
import tempfile

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# Isolate the file-backed broker per pytest process: two concurrent test
# runs sharing the default directory corrupt each other (one process's
# fixture clear() wipes the other's subject log mid-test). Must be set
# BEFORE the SparkSession exists so executor Python workers inherit it.
_BROKER_DIR_OWNED = "SPARK_NATS_BROKER_DIR" not in os.environ
os.environ.setdefault(
    "SPARK_NATS_BROKER_DIR",
    os.path.join(tempfile.gettempdir(), f"dn_broker_test_{os.getpid()}"),
)

# Heap of every Spark JVM the suite starts: the session fixture's and the
# local[2]/local[32] child sessions of test_partition_invariance, which
# inherit this environment. G1 grows a heap toward its maximum and keeps
# it, so with the 8g default the session's JVM held ~8.5 GB resident by
# the time a child session started, and on a 16 GB host the kernel's OOM
# killer ended it — every later Spark test then failed with "Connection
# refused". At 4g the session JVM and one child fit side by side.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")


@pytest.fixture(scope="session", autouse=True)
def _broker_dir_cleanup():
    yield
    if _BROKER_DIR_OWNED:  # never delete a user-provided directory
        import shutil

        shutil.rmtree(os.environ["SPARK_NATS_BROKER_DIR"], ignore_errors=True)


@pytest.fixture(scope="session")
def spark():
    from datafusion_nats_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    spark = get_spark("tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    from tests.parity import duck_connection

    con = duck_connection(sf_dir)
    yield con
    con.close()
