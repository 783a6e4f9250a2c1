"""Shared fixtures: one tuned SparkSession per test run, DuckDB oracle con.

SPARK_GRAFT_TEST_SF_DIR selects the scale factor for parity tests
(default sf0.001 for speed; CI/driver runs sf0.01).
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spark_streaming_test_spark.catalog import TABLES
from spark_streaming_test_spark.session import get_spark

TEST_SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return TEST_SF_DIR


@pytest.fixture(scope="session")
def oracle_con(sf_dir):
    """DuckDB connection with the test tables registered as views —
    mirrors the driver's oracle setup."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.fixture(scope="session")
def registry_plans(spark, sf_dir) -> dict[str, str]:
    """name -> formatted physical plan of every registered query, built
    once for all registry-wide plan audits: building a query already
    runs its eager checkpoints and collects, so each extra pass over
    the 616 queries cost minutes."""
    from spark_streaming_test_spark import registry
    from spark_streaming_test_spark.plans import checks

    return {
        name: checks.formatted_plan(ent.fn(spark, sf_dir))
        for name, ent in registry.all_queries().items()
    }
