"""Meta-test: every registered oracle string must PARSE AND BIND in
DuckDB against the real table schemas. The differential harness
(tools/verify_local.py) only exercises oracles when it runs; this guard
catches a broken oracle (typo, engine-specific syntax, renamed column)
at pytest time — seconds, no Spark session."""

from __future__ import annotations

import os

import pytest

from datalake_nba_dmc_spark.suite import load_all
from tools.verify_local import oracle_connection

SF0001 = "/root/testdata/sf0.001"

needs_testdata = pytest.mark.skipif(
    not os.path.isdir(SF0001), reason="driver testdata not present"
)


@needs_testdata
def test_every_oracle_parses_and_binds():
    con = oracle_connection(SF0001)
    broken = []
    n = 0
    for name, spec in load_all().items():
        if spec.oracle is None:
            continue
        n += 1
        try:
            # EXPLAIN forces full parse + bind (catalog/column resolution)
            # without executing the query
            con.execute(f"EXPLAIN {spec.oracle}")
        except Exception as ex:  # noqa: BLE001 — collect every failure
            broken.append((name, str(ex).splitlines()[0]))
    assert not broken, broken
    assert n >= 170  # sanity: the registry really was loaded
