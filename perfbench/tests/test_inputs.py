"""The seeded input generator: determinism, layout per seed, key remaps."""

from __future__ import annotations

import hashlib
import os

from perfbench import inputs


def _digests(d) -> dict[str, str]:
    return {
        f: hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
        for f in sorted(os.listdir(d))
    }


def test_same_seed_gives_identical_bytes(tmp_path):
    a = inputs.generate(str(tmp_path / "a"), 0.001, 5)
    b = inputs.generate(str(tmp_path / "b"), 0.001, 5)
    assert a == b
    assert _digests(tmp_path / "a") == _digests(tmp_path / "b")


def test_other_seed_gives_other_layout_with_same_row_counts(tmp_path):
    a = inputs.generate(str(tmp_path / "a"), 0.001, 5)
    c = inputs.generate(str(tmp_path / "c"), 0.001, 6)
    assert {t: s["rows"] for t, s in a.items()} == {t: s["rows"] for t, s in c.items()}
    da, dc = _digests(tmp_path / "a"), _digests(tmp_path / "c")
    for t in inputs.TABLES[1:]:
        assert da[f"{t}.parquet"] != dc[f"{t}.parquet"], t


def test_keys_are_remapped_bijectively_and_values_kept():
    a, b = inputs.build_tables(0.001, 1), inputs.build_tables(0.001, 2)
    for t in (a, b):
        cust = t["customer"]["c_custkey"].to_pylist()
        orders = t["orders"]["o_orderkey"].to_pylist()
        assert sorted(cust) == list(range(len(cust)))
        assert sorted(orders) == list(range(len(orders)))
        assert set(t["orders"]["o_custkey"].to_pylist()) <= set(cust)
        assert set(t["lineitem"]["l_orderkey"].to_pylist()) <= set(orders)
    assert a["orders"]["o_orderkey"].to_pylist() != b["orders"]["o_orderkey"].to_pylist()
    # the seed moves keys and rows, never the values: same work per seed
    for t, col in (("lineitem", "l_extendedprice"), ("documents", "text"), ("orders", "o_orderdate")):
        assert sorted(a[t][col].to_pylist()) == sorted(b[t][col].to_pylist())


def test_replicas_stack_key_offset_copies():
    one, three = inputs.build_tables(0.001, 3), inputs.build_tables(0.001, 3, replicas=3)
    for t in ("customer", "orders", "lineitem"):
        assert three[t].num_rows == 3 * one[t].num_rows
    assert three["documents"].num_rows == one["documents"].num_rows
    cust = three["customer"]["c_custkey"].to_pylist()
    assert sorted(cust) == list(range(len(cust)))
    assert set(three["orders"]["o_custkey"].to_pylist()) <= set(cust)
    assert set(three["lineitem"]["l_orderkey"].to_pylist()) <= set(
        three["orders"]["o_orderkey"].to_pylist()
    )


def test_a_subset_of_tables_is_byte_identical_to_the_full_set(tmp_path):
    inputs.generate(str(tmp_path / "all"), 0.001, 5, replicas=2)
    inputs.generate(str(tmp_path / "some"), 0.001, 5, replicas=2, tables=("orders", "documents"))
    full, some = _digests(tmp_path / "all"), _digests(tmp_path / "some")
    assert sorted(some) == ["documents.parquet", "orders.parquet"]
    assert all(full[f] == d for f, d in some.items())
