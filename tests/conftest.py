"""Shared fixtures: one tuned local SparkSession + a DuckDB oracle connection
with the fixture tables registered (mirrors the driver's setup)."""

from __future__ import annotations

import os

import duckdb
import pytest

from guidance_for_sap_data_integration_and_management_on_aws_spark.catalog import TABLES
from guidance_for_sap_data_integration_and_management_on_aws_spark.session import get_spark

SF_SMOKE = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")


@pytest.fixture(scope="session", autouse=True)
def _sweep_scratch():
    # clears prior runs' drained streaming checkpoints and replay fixtures
    # before this session builds its own (bench.py sweeps at its start too)
    from guidance_for_sap_data_integration_and_management_on_aws_spark.streaming.replay import (
        sweep_scratch,
    )

    sweep_scratch()


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


def make_duck(sf: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )
    return con


@pytest.fixture(scope="session")
def duck(sf_dir):
    con = make_duck(sf_dir)
    yield con
    con.close()
