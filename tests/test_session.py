"""The pytest session and ``get_spark`` run with the same codegen cache."""

from __future__ import annotations

import os
import subprocess
import sys

from datalake_nba_dmc_spark.session import CODEGEN_CACHE_ENTRIES

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CONF = "spark.sql.codegen.cache.maxEntries"


def test_fixture_and_get_spark_share_the_codegen_cache_size(spark):
    script = (
        "from datalake_nba_dmc_spark.session import get_spark\n"
        f"s = get_spark('conf_probe')\nprint(s.conf.get({CONF!r}))\ns.stop()\n"
    )
    env = {
        **os.environ,
        "PYTHONPATH": ROOT,
        "SPARK_GRAFT_CPUS": "1",
        "SPARK_DRIVER_MEMORY": "512m",
    }
    out = subprocess.run(
        [sys.executable, "-c", script], env=env, cwd=ROOT,
        capture_output=True, text=True, timeout=180, check=True,
    ).stdout.split()
    assert out[-1] == spark.conf.get(CONF) == str(CODEGEN_CACHE_ENTRIES)
