"""Seeded input generator.

Every table is built in two steps:

1. A fixed template at a given scale factor, shaped like the suite's
   TPC-H-style order tables (nation, customer, orders, lineitem) and its
   ``documents`` table (same columns, types, value ranges and categorical
   domains). Each table draws from its own fixed random stream, which does
   not depend on the seed, so the multiset of values, and with it the
   amount of work, is the same for every seed.
2. The seed permutes the row order of every table and remaps every
   surrogate-key domain bijectively onto itself (customer, order, part,
   supplier and document keys; foreign keys follow their domain). Name
   columns derived from a key are built after the remap.

``replicas`` stacks N copies of the order-side tables (customer, orders,
lineitem), copy r's keys offset by r times the key domain's size, before
the seed step: one larger input with the same per-key shape.

The same (scale, replicas, seed, tables) gives byte-identical Parquet files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("nation", "customer", "orders", "lineitem", "documents")

#: Fixed template streams, one per table: the seed only permutes and remaps.
_TEMPLATE_SEED = 20240101

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_STATUS = ["F", "O", "P"]
_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")


@dataclass(frozen=True)
class Sizes:
    """Rows per table at a scale factor (the suite's sf0.1 has 600k lines)."""

    customer: int
    supplier: int
    part: int
    orders: int
    lineitem: int
    documents: int

    @classmethod
    def at(cls, sf: float) -> Sizes:
        return cls(
            customer=round(150_000 * sf),
            supplier=round(10_000 * sf),
            part=round(200_000 * sf),
            orders=round(1_500_000 * sf),
            lineitem=round(6_000_000 * sf),
            documents=max(500, round(50_000 * sf)),
        )


def _rng(table: str) -> np.random.Generator:
    return np.random.default_rng([_TEMPLATE_SEED, TABLES.index(table)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, first_day: int, n_days: int, n: int) -> np.ndarray:
    return _EPOCH_1995 + (first_day + rng.integers(0, n_days, n)) * np.timedelta64(_DAY_US, "us")


def _documents(n: int) -> dict[str, np.ndarray]:
    """10..100 words from a 31-word vocabulary; one doc in 20 is an earlier
    doc's text plus the word ``dup`` (near duplicates for the dedup ops)."""
    rng = _rng("documents")
    vocab = np.array(_VOCAB)
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]))
    return {
        "text": np.array(texts, dtype=object),
        "lang": np.array(_LANGS, dtype=object)[rng.choice(len(_LANGS), n, p=_LANG_P)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _template(table: str, z: Sizes, replicas: int) -> dict[str, np.ndarray]:
    """Columns of one table, keys still dense and unpermuted. The
    order-side tables are stacked ``replicas`` times with key offsets."""
    rng = _rng(table)
    nc, no, nl = z.customer, z.orders, z.lineitem
    if table == "nation":
        return {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": np.array([f"NATION_{i}" for i in range(25)], dtype=object),
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    if table == "documents":
        return _documents(z.documents)
    if table == "customer":
        cols = {
            "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": np.array(_SEGMENTS, dtype=object)[rng.integers(0, 5, nc)],
        }
        fk = None
    elif table == "orders":
        cols = {
            "o_custkey": rng.integers(0, nc, no),
            "o_orderstatus": np.array(_STATUS, dtype=object)[rng.integers(0, 3, no)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
            "o_orderdate": _days(rng, 0, 2404, no),
            "o_orderpriority": np.array(_PRIORITY, dtype=object)[rng.integers(0, 5, no)],
        }
        fk = ("o_custkey", nc)
    else:  # lineitem
        cols = {
            "l_orderkey": rng.integers(0, no, nl),
            "l_partkey": rng.integers(0, z.part, nl),
            "l_suppkey": rng.integers(0, z.supplier, nl),
            "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"], dtype=object)[rng.integers(0, 3, nl)],
            "l_linestatus": np.array(["F", "O"], dtype=object)[rng.integers(0, 2, nl)],
            "l_shipdate": _days(rng, 1, 2499, nl),
        }
        fk = ("l_orderkey", no)
    if replicas > 1:
        n = len(next(iter(cols.values())))
        cols = {k: np.tile(v, replicas) for k, v in cols.items()}
        if fk is not None:
            col, domain = fk
            cols[col] = cols[col] + np.repeat(np.arange(replicas) * domain, n)
    return cols


#: Each table's own dense key 0..n-1 (created at remap time) and its
#: foreign keys, as (column, key domain).
_OWN_KEY = {
    "customer": ("c_custkey", "cust"),
    "orders": ("o_orderkey", "order"),
    "documents": ("doc_id", "doc"),
}
_FOREIGN_KEYS = {
    "orders": [("o_custkey", "cust")],
    "lineitem": [("l_orderkey", "order"), ("l_partkey", "part"), ("l_suppkey", "supp")],
}

#: Column order of each written table (matches the suite's inputs).
_ORDER = {
    "nation": ["n_nationkey", "n_name", "n_regionkey"],
    "customer": ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
    "orders": [
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
        "o_orderpriority",
    ],
    "lineitem": [
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
        "l_shipdate",
    ],
    "documents": ["doc_id", "text", "lang", "source", "n_chars"],
}


def build_tables(
    sf: float, seed: int, replicas: int = 1, tables: tuple[str, ...] = TABLES
) -> dict[str, pa.Table]:
    """The seeded tables as Arrow tables (see the module docstring)."""
    z = Sizes.at(sf)
    domain = {
        "cust": z.customer * replicas,
        "supp": z.supplier,
        "part": z.part,
        "order": z.orders * replicas,
        "doc": z.documents,
    }
    rng = np.random.default_rng(seed)
    remap = {d: rng.permutation(n) for d, n in domain.items()}
    out = {}
    for name in TABLES:
        if name not in tables:
            continue
        c = _template(name, z, replicas)
        n = len(next(iter(c.values())))
        if name in _OWN_KEY:
            col, dom = _OWN_KEY[name]
            c[col] = remap[dom].astype(np.int64)
        for col, dom in _FOREIGN_KEYS.get(name, []):
            c[col] = remap[dom][c[col]].astype(np.int64)
        if name == "customer":
            c["c_name"] = np.array([f"Customer#{k:09d}" for k in c["c_custkey"]], dtype=object)
        elif name == "documents":
            c["source"] = np.array([f"src{k % 20}" for k in c["doc_id"]], dtype=object)
        order = np.random.default_rng([seed, TABLES.index(name)]).permutation(n)
        out[name] = pa.table([pa.array(c[col][order]) for col in _ORDER[name]], names=_ORDER[name])
    return out


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> dict[str, dict[str, int]]:
    """Write ``<out_dir>/<table>.parquet`` (one row group, snappy) and
    return ``{table: {"rows": n, "bytes": file size}}``."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, t in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path, row_group_size=max(1, t.num_rows), compression="snappy")
        sizes[name] = {"rows": t.num_rows, "bytes": os.path.getsize(path)}
    return sizes


def generate(
    out_dir: str, sf: float, seed: int, replicas: int = 1, tables: tuple[str, ...] = TABLES
) -> dict[str, dict[str, int]]:
    """Build and write the seeded inputs; returns per-table sizes."""
    return write_tables(build_tables(sf, seed, replicas, tables), out_dir)
