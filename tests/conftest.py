"""Shared fixtures: one SparkSession per test run, DuckDB oracle harness."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

import __spark_entry__ as entry
from icecube_spark.catalog import TABLES
from icecube_spark.session import get_spark

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))
from driver_verify import compare  # noqa: E402

SF_DIR = os.environ.get("ICECUBE_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("icecube-tests")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def oracle():
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{SF_DIR}/{name}.parquet'"
        )
    yield con
    con.close()


@pytest.fixture(scope="session")
def check_oracle(spark, sf_dir, oracle):
    """Run registry key ``key`` and hold it to its ``oracle_sql()``
    twin with the driver-gate comparator."""
    queries, sqls = entry.queries(), entry.oracle_sql()

    def check(key: str) -> None:
        got = queries[key](spark, sf_dir).toPandas()
        ok, why = compare(got, oracle.sql(sqls[key]).df())
        assert ok, f"{key}: {why}"

    return check
