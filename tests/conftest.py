from __future__ import annotations

import os

import pytest

from presencia_etl_spark.session import get_spark

SF_SMOKE = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# Test frames are KB-sized. get_spark starts AQE at a corpus-scale
# 256-partition width that every exchange then coalesces down; at KB
# sizes those near-empty partitions are pure per-task overhead (measured
# ~25% of the MOR / replica-sync test time). Start AQE at the session
# fixture's static width instead. An explicit setting still wins.
os.environ.setdefault("SPARK_GRAFT_AQE_INITIAL_PARTITIONS", "8")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="presencia-etl-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE
