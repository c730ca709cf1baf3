"""Differential tests for the subquery/selective-join query family
(suite/subqueries.py) — Spark vs DuckDB on sf0.001, same comparison the
driver's t2 gate runs (row count + columns + order-insensitive values)."""

from __future__ import annotations

import os

import pytest

from datalake_nba_dmc_spark.suite import load_all
from tools.verify_local import compare, oracle_connection

SF0001 = "/root/testdata/sf0.001"

needs_testdata = pytest.mark.skipif(
    not os.path.isdir(SF0001), reason="driver testdata not present"
)

FAMILY = [
    "tpch_q4_order_priority",
    "tpch_q6_forecast_revenue",
    "tpch_q10_returned_items",
    "tpch_q14_promo_revenue",
    "tpch_q15_top_supplier",
    "tpch_q17_small_quantity_revenue",
    "tpch_q18_large_volume_customers",
    "tpch_q19_disjunctive_predicates",
    "tpch_q22_dormant_customers",
]


@pytest.fixture(scope="module")
def con():
    return oracle_connection(SF0001)


@needs_testdata
@pytest.mark.parametrize("name", FAMILY)
def test_matches_oracle(spark, con, name):
    spec = load_all()[name]
    spdf = spec.builder(spark, SF0001).toPandas()
    odf = con.execute(spec.oracle).df()
    assert compare(spdf, odf) == []


@needs_testdata
def test_q15_result_is_argmax(spark):
    """Every returned supplier carries exactly the maximum revenue."""
    spec = load_all()["tpch_q15_top_supplier"]
    rows = spec.builder(spark, SF0001).collect()
    assert rows, "q15 empty at sf0.001"
    revs = {r.total_revenue for r in rows}
    assert len(revs) == 1
