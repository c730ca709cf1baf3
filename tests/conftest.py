"""Shared SparkSession for the test suite (one JVM for all tests)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

from datalake_nba_dmc_spark.session import CODEGEN_CACHE_ENTRIES

SF0001 = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    s = (
        SparkSession.builder.appName("tests")
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", "/tmp/spark-test-warehouse")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
