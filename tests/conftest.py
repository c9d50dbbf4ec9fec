from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_integration_tool_spark import registry  # noqa: E402
from data_integration_tool_spark.session import get_spark  # noqa: E402

# Fast-but-real default for pytest; the driver's t2 runs at sf0.01.
TEST_SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    s = get_spark(app_name="pytest", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return TEST_SF_DIR


@pytest.fixture(scope="session")
def collected(spark, sf_dir):
    """Run a registered query once per session and keep (schema, rows).
    The live streaming harnesses are checked by test_oracle_parity and
    test_streaming from the same collected result, so each runs once."""
    cache = {}

    def get(name):
        if name not in cache:
            df = registry.specs()[name].builder(spark, sf_dir)
            cache[name] = (df.schema, df.collect())
        return cache[name]

    return get
