from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_engineering_zoomcamp_my_test_spark.session import (
    EngineConfig,
    env_positive_int,
    get_spark,
)

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # SPARK_GRAFT_TEST_CPUS sizes the test session alone; unset, it follows
    # the engine's SPARK_GRAFT_CPUS, and 8 when neither is set.
    cpus = env_positive_int(
        "SPARK_GRAFT_TEST_CPUS", env_positive_int("SPARK_GRAFT_CPUS", 8)
    )
    s = get_spark(
        EngineConfig(
            master=f"local[{cpus}]",
            shuffle_partitions=cpus,
            app_name="engine-tests",
        )
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_small() -> str:
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_medium() -> str:
    return SF_MEDIUM
