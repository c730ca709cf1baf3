"""Local differential verifier — mimics the driver's t2 correctness gate.

Runs every suite query on Spark and its oracle on DuckDB over the same
parquet directory; compares row count, column names, and an
order-insensitive value hash. Usage:

    python tools/verify_local.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

from datalake_nba_dmc_spark.session import get_spark
from datalake_nba_dmc_spark.sources import TABLES
from datalake_nba_dmc_spark.suite import load_all


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per suite table over ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf_dir, t + '.parquet')}'"
        )
    return con


def canonical_hash(df: pd.DataFrame) -> str:
    """Order-insensitive value hash: sort columns by name, normalize cell
    repr, sort rows, sha256."""
    df = df[sorted(df.columns)]

    def norm(v):
        if v is None or (isinstance(v, float) and pd.isna(v)):
            return "NULL"
        if pd.api.types.is_scalar(v) and pd.isna(v):
            return "NULL"
        if isinstance(v, float):
            return repr(v)
        return str(v)

    rows = sorted(
        "|".join(norm(v) for v in rec) for rec in df.itertuples(index=False, name=None)
    )
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]


def compare(spdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    """The differential check: row count, column names, and the
    order-insensitive value hash (plus the first differing cell when the
    row counts agree). Returns the problems found; empty means PASS."""
    problems = []
    if len(spdf) != len(odf):
        problems.append(f"rows {len(spdf)} vs {len(odf)}")
    cols = sorted(spdf.columns)
    if cols != sorted(odf.columns):
        problems.append(f"cols {cols} vs {sorted(odf.columns)}")
        return problems
    hs, ho = canonical_hash(spdf), canonical_hash(odf)
    if hs == ho:
        return problems
    problems.append(f"hash {hs} vs {ho}")
    if len(spdf) == len(odf):
        try:
            s, o = (
                df[cols].sort_values(cols).reset_index(drop=True).astype(str)
                for df in (spdf, odf)
            )
        except TypeError:  # unorderable cells (lists, mixed types)
            return problems
        for col in cols:
            if not s[col].equals(o[col]):
                ex = (s[col] != o[col]).idxmax()
                problems.append(
                    f"first diff col={col} row={ex}: {s[col][ex]!r} vs {o[col][ex]!r}"
                )
                break
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    specs = load_all()
    spark = get_spark("verify_local")
    con = oracle_connection(sf_dir)

    n_pass = n_fail = n_rows_only = 0
    for name, spec in sorted(specs.items()):
        if only and name not in only:
            continue
        try:
            sdf = spec.builder(spark, sf_dir)
            spdf = sdf.toPandas()
        except Exception:
            print(f"FAIL {name}: spark raised")
            traceback.print_exc(limit=3)
            n_fail += 1
            continue
        if spec.oracle is None:
            print(f"ROWS {name}: {len(spdf)} rows (no oracle)")
            n_rows_only += 1
            continue
        try:
            odf = con.execute(spec.oracle).df()
        except Exception:
            print(f"FAIL {name}: duckdb raised")
            traceback.print_exc(limit=3)
            n_fail += 1
            continue
        problems = compare(spdf, odf)
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(spdf)} rows)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
