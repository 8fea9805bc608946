"""Seeded generator for the catalog's ten input tables.

Writes one parquet file per table with the column names, types and value
domains of the engine's TPC-H-shaped testdata layout (see
``sources/testdata.py:EXPECTED_COLUMNS``), so every catalog entry and its
DuckDB oracle run unchanged on the output. The same ``(seed, sf)`` always
gives byte-identical row contents.

Row counts per scale factor ``sf`` follow the testdata layout: 150k·sf
customers, 1.5M·sf orders, 6M·sf line items. As in TPC-H, customers whose
key is a multiple of three place no orders, so anti-joins and zero-order
buckets have rows to check. ``events``, ``documents`` and ``embeddings``
are read by no entry of the benchmark's pass; they hold a few plain rows
so the DuckDB oracle connection can create its views over them.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
#: rows of each table that no entry of the pass reads
_N_UNUSED = 8

_EPOCH_1995 = np.datetime64("1995-01-01", "us")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: np.datetime64, span: int, n: int) -> np.ndarray:
    return start + rng.integers(0, span + 1, n).astype("timedelta64[D]").astype(
        "timedelta64[us]"
    )


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten tables under ``out_dir``; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(1, int(150_000 * sf))
    n_supp = max(1, int(10_000 * sf))
    n_part = max(1, int(200_000 * sf))
    n_ord = max(1, int(1_500_000 * sf))
    n_line = max(1, int(6_000_000 * sf))

    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    }))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))
    _write(out_dir, "customer", pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    }))
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }))
    partkey = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", pa.table({
        "p_partkey": partkey,
        "p_name": [
            f"{a} {b}"
            for a, b in zip(rng.choice(_ADJ, n_part), rng.choice(_NOUN, n_part))
        ],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (partkey % 1000) / 10.0, 2),
    }))
    ordering = np.flatnonzero(np.arange(n_cust) % 3 != 0).astype(np.int64)
    _write(out_dir, "orders", pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.choice(ordering, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, _EPOCH_1995, 2404, n_ord),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    }))
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["O", "F"], n_line),
        "l_shipdate": _days(rng, _EPOCH_1995 + np.timedelta64(1, "D"), 2498, n_line),
    }))
    n = _N_UNUSED
    _write(out_dir, "events", pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + np.arange(n).astype("timedelta64[s]"),
        "user_id": np.arange(n, dtype=np.int64),
        "event_type": ["view"] * n,
        "value": np.ones(n),
        "props": ["{}"] * n,
    }))
    _write(out_dir, "documents", pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": [f"document {i}" for i in range(n)],
        "lang": ["en"] * n,
        "source": ["src0"] * n,
        "n_chars": np.full(n, 10, dtype=np.int64),
    }))
    _write(out_dir, "embeddings", pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array([[1.0, 0.0]] * n, pa.list_(pa.float32())),
        "label": np.zeros(n, dtype=np.int32),
    }))
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part,
        "orders": n_ord, "lineitem": n_line,
    }

