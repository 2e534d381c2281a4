from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get(
    "MLDB_SPARK_TEST_SF", os.path.join(REPO, "perfbench", "data", "sf0.001")
)


@pytest.fixture(scope="session")
def spark():
    from mldb_spark.session import get_spark

    # Test data is tiny (sf0.001 fixtures / inline frames); the wall
    # clock of the 700+-test suite is dominated by per-task scheduling
    # overhead, not computation (measured: 40 tiny selects + 20 tiny
    # groupBys = 73s at local[32]/32 partitions vs 40s at local[4]/4).
    # Run the shared test session small unless the caller overrides.
    cpus = os.environ.get("MLDB_SPARK_TEST_CPUS", "4")
    return get_spark(
        "mldb_spark_tests",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )


@pytest.fixture(scope="session")
def duck():
    from mldb_spark.testing import duck_connection

    return duck_connection(SF_DIR)


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
