"""Shared fixtures: one tuned SparkSession per test run (JVM startup is
~10 s — reuse it), the smallest fixture dir, and the queuedata table."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_001 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    """The session's managed tables live in a fresh temp warehouse, so
    tables a killed run left under ``./spark-warehouse`` cannot fail
    the next run's ``saveAsTable`` (LOCATION_ALREADY_EXISTS)."""
    from ask_duckdb_spark.session import get_spark

    warehouse = str(tmp_path_factory.mktemp("warehouse"))
    spark = get_spark("tests", extra_conf={"spark.sql.warehouse.dir": warehouse})
    yield spark


@pytest.fixture(scope="session")
def queuedata(spark):
    """Synthetic queuedata view + its dictionary (FIXTURES.md §2)."""
    from ask_duckdb_spark.sources.queuedata_fixture import (
        queuedata_df,
        queuedata_dictionary,
    )

    df = queuedata_df(spark)
    df.createOrReplaceTempView("queuedata")
    return df, queuedata_dictionary()
