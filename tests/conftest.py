from __future__ import annotations

import sys

import pytest

sys.path.insert(0, "/root/repo")

# Harness-level opt-in for the container-local protobuf site (must
# precede the package import, whose __init__ consumes the env var and
# exports PYTHONPATH before the JVM launch in the spark fixture below —
# transformWithState's driver-side Python worker inherits it)
import local_env  # noqa: F401

from olist_snowflake_dbt_spark.session import get_spark


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    # a per-run warehouse: catalog tables a killed run leaves behind
    # cannot collide with the next run's saveAsTable
    s = get_spark(
        "pytest",
        **{
            "spark.sql.shuffle.partitions": "4",
            "spark.sql.warehouse.dir": str(tmp_path_factory.mktemp("warehouse")),
        },
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"
