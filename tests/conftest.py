from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_engineering_zoomcamp_my_test_spark.session import EngineConfig, get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # Sized like any engine session: SPARK_GRAFT_CPUS, else the host's cores.
    s = get_spark(EngineConfig(app_name="engine-tests"))
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_small() -> str:
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_medium() -> str:
    return SF_MEDIUM
