"""Seeded star-schema and document tables for the batch workload.

The tables have the column names and types of the repository's test data
(a TPC-H-like star schema plus a ``documents`` corpus) and similar value
distributions; row counts scale with ``sf`` (sf0.1: 600k lineitems,
150k orders, 5k documents). The same seed writes the same tables.

The batch workload reads the repository's own test data; it writes these
tables only where that data is absent:

    python3 perfbench/datagen.py OUT_DIR SEED SF
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
DOC_WORDS = ("a agg batch big column customer data fast filter group hash "
             "join key line merge order part query row scan slow small sort "
             "spark stream table the value vector window").split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng, lo: str, hi: str, n: int) -> pa.Array:
    a, b = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    days = a + rng.integers(0, int((b - a).astype(int)) + 1, n)
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def _choice(rng, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[
        rng.integers(0, len(values), n)], pa.string())


def _documents(rng, n: int) -> pa.Table:
    """Texts of 5-100 corpus words; about 5% near-duplicates (an earlier
    text plus ``dup``) and a few exact duplicates."""
    words = np.asarray(DOC_WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(5, 101))
            texts.append(" ".join(words[rng.integers(0, len(words), k)]))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _choice(rng, LANGS, n),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_part, n_docs = int(200_000 * sf), int(50_000 * sf)
    i32 = pa.int32()
    return {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": pa.array(REGIONS, pa.string())}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _choice(rng, SEGMENTS, n_cust)}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": _choice(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _dates(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": _choice(rng, PRIORITIES, n_ord)}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
            "l_discount": np.round(rng.uniform(0.0, 0.1, n_li), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
            "l_returnflag": _choice(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _choice(rng, ["F", "O"], n_li),
            "l_shipdate": _dates(rng, "1995-01-02", "2001-11-04", n_li)}),
        "documents": _documents(rng, n_docs),
    }


def write(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table as ``<name>.parquet``; returns the row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, t in tables(seed, sf).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows
    return rows



if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
