"""Output checks: compare a result frame with its DuckDB twin by row
count, column names and an order-insensitive value hash."""

from __future__ import annotations

import hashlib
import os

import duckdb
import pandas as pd


def canonical_hash(df: pd.DataFrame, float_decimals: int | None = None) -> str:
    """Sort columns by name, render every cell, sort the rows, sha256.

    ``float_decimals`` rounds floats to that many decimals, for twins whose
    double sums add in a different order than Spark's: sums of 2-decimal
    money values are exact to 2 decimals up to a rounding error far below
    0.005. ``None`` compares the exact ``repr`` (the suite's oracles are
    written to be bit-exact).
    """

    def norm(v) -> str:
        if v is None or (pd.api.types.is_scalar(v) and pd.isna(v)):
            return "NULL"
        if isinstance(v, float):
            return repr(v) if float_decimals is None else f"{v:.{float_decimals}f}"
        return str(v)

    def render(col: pd.Series) -> pd.Series:
        if pd.api.types.is_datetime64_dtype(col):  # as epoch nanoseconds: fast, unit-free
            return col.astype("datetime64[ns]").astype("int64").astype(str).where(col.notna(), "NULL")
        return col.map(norm)

    cols = [render(df[c]) for c in sorted(df.columns)]
    rows = cols[0].str.cat(cols[1:], sep="|").tolist() if cols else [""] * len(df)
    return hashlib.sha256("\n".join(sorted(rows)).encode()).hexdigest()[:16]


def compare(got: pd.DataFrame, want: pd.DataFrame, float_decimals: int | None = None) -> list[str]:
    """Problems found comparing ``got`` with ``want`` (empty when equal)."""
    problems = []
    if len(got) != len(want):
        problems.append(f"rows {len(got)} vs {len(want)}")
    if sorted(got.columns) != sorted(want.columns):
        problems.append(f"columns {sorted(got.columns)} vs {sorted(want.columns)}")
    elif not problems:
        hg, hw = canonical_hash(got, float_decimals), canonical_hash(want, float_decimals)
        if hg != hw:
            problems.append(f"hash {hg} vs {hw}")
    return problems


def duckdb_over(in_dir: str, tables: tuple[str, ...], tmp_dir: str) -> duckdb.DuckDBPyConnection:
    """An in-memory DuckDB with one view per input table."""
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    con.execute("SET memory_limit = '2GB'")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(in_dir, t + '.parquet')}'")
    return con
