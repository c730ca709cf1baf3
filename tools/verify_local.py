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
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

from datalake_nba_dmc_spark.session import get_spark
from datalake_nba_dmc_spark.sources import TABLES
from datalake_nba_dmc_spark.suite import load_all

#: ``known`` reason of a query whose builder rejects empty input by design
RAISES = "raises"


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


def selected(only) -> list[str]:
    """Registered names, sorted, restricted to ``only`` when it is given."""
    return sorted(n for n in load_all() if not only or n in only)


def crash_line(e: Exception) -> str:
    return f"{type(e).__name__}: {(str(e).splitlines() or [''])[0][:160]}"


def record(verdicts: dict[str, str], name: str, verdict: str, detail: str) -> None:
    print(f"{verdict} {name}{detail}")
    verdicts[name] = verdict


def differential(spark, sf_dir: str, names, known=None) -> dict[str, str]:
    """Run each named query on Spark and its oracle on DuckDB over
    ``sf_dir``, print one line per query and return its verdict: PASS,
    FAIL (``compare`` found problems), CRASH (either engine raised), ROWS
    (no oracle) or KNOWN (a triaged deviation in ``known``: name -> reason;
    the reason ``RAISES`` excuses a builder that rejects empty input)."""
    specs, known = load_all(), known or {}
    con = oracle_connection(sf_dir)
    verdicts: dict[str, str] = {}
    for name in names:
        spec, why = specs[name], known.get(name)
        try:
            spdf = spec.builder(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            if why == RAISES and isinstance(e, ValueError) and "empty input" in str(e):
                record(verdicts, name, "KNOWN", f": raises by design: {e}")
            else:
                record(verdicts, name, "CRASH", f": spark: {crash_line(e)}")
                traceback.print_exc(limit=3)
            continue
        if why and why != RAISES:
            record(verdicts, name, "KNOWN", f": {why}")
        elif spec.oracle is None:
            record(verdicts, name, "ROWS", f": {len(spdf)} rows (no oracle)")
        else:
            try:
                problems = compare(spdf, con.execute(spec.oracle).df())
            except Exception as e:  # noqa: BLE001
                record(verdicts, name, "CRASH", f": duckdb: {crash_line(e)}")
                continue
            if problems:
                record(verdicts, name, "FAIL", f": {'; '.join(problems)}")
            else:
                record(verdicts, name, "PASS", f" ({len(spdf)} rows)")
    return verdicts


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = selected(set(sys.argv[2:]))
    n = Counter(differential(get_spark("verify_local"), sf_dir, names).values())
    n_fail = n["FAIL"] + n["CRASH"]
    print(f"\n{n['PASS']} pass, {n_fail} fail, {n['ROWS']} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
