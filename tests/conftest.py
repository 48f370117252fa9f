"""Shared fixtures: one SparkSession and one DuckDB connection per run."""

from __future__ import annotations

import os
import sys
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from product_data_pipelining_spark.checks.oracle_compare import (  # noqa: E402
    duck_view_sql,
)
from product_data_pipelining_spark.io import TPCH_TABLES  # noqa: E402
from product_data_pipelining_spark.session import get_spark  # noqa: E402

# small SF by default so the loop is fast; override for the full check
SF_DIR = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")
TEST_CPUS = int(os.environ.get("TEST_CPUS", "8"))


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pdp-tests", cpus=TEST_CPUS)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def ddb(sf_dir):
    """DuckDB connection with the testdata tables registered as views,
    mirroring the driver's oracle setup."""
    con = duckdb.connect()
    for t in TPCH_TABLES:
        con.execute(duck_view_sql(sf_dir, t))
    yield con
    con.close()
