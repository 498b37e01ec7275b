"""Seeded generator for the query mix's input tables.

Writes the ten tables the registered queries read (the TPC-H-like star
schema plus ``events``, ``documents`` and ``embeddings``) as one parquet
file each, with the schemas, key domains and row counts of the project's
sf0.01 test data. Values are drawn uniformly from each column's domain;
they are not fitted to the test data. Same seed, same bytes of input.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a the scan column window order sort part agg value line key join merge group "
    "query vector hash slow stream filter fast batch spark table small data big "
    "customer row"
).split()
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "small", "large", "red", "shiny", "old", "green")
PART_NOUN = ("anvil", "widget", "bolt", "gear", "spring", "valve", "nut", "lever")
PART_TYPES = ("PROMO", "ECONOMY", "MEDIUM", "SMALL", "LARGE", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "purchase", "error", "signup", "view")
LANGS = ("en", "en", "fr", "es", "zh", "de")

#: rows per table (lineitem is 4 lines per order); "sf0.01" matches the
#: project's sf0.01 test data, "smoke" is for the benchmark's own tests
SIZES = {
    "sf0.01": {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
               "events": 10000, "documents": 500, "embeddings": 500},
    "smoke": {"customer": 30, "supplier": 4, "part": 40, "orders": 300,
              "events": 200, "documents": 100, "embeddings": 100},
}
DIM = 64


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    return lo_d + rng.integers(0, (hi_d - lo_d).astype(int) + 1, n).astype("timedelta64[D]")


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def generate(out_dir: str, seed: int, size: str = "sf0.01") -> dict[str, int]:
    """Write every table under ``out_dir``; returns table -> rows."""
    rng = np.random.default_rng(seed)
    n = SIZES[size]
    n_users = max(3, n["customer"] // 10)
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": rng.choice(SEGMENTS, nc),
    })
    ns = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
    })
    npart = n["part"]
    tables["part"] = pa.table({
        "p_partkey": pa.array(range(npart), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, npart), rng.choice(PART_NOUN, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(PART_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + 0.1 * np.arange(npart), 2),
    })
    no = n["orders"]
    odate = _days(rng, "1995-01-01", "2001-08-01", no)
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(("O", "F", "P"), no),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": _ts(odate),
        "o_orderpriority": rng.choice(PRIORITIES, no),
    })
    nl = 4 * no
    l_order = rng.integers(0, no, nl)
    qty = rng.integers(1, 51, nl).astype(float)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": rng.choice(("N", "R", "A"), nl),
        "l_linestatus": rng.choice(("F", "O"), nl),
        "l_shipdate": _ts(odate[l_order] + rng.integers(1, 122, nl).astype("timedelta64[D]")),
    })
    ne = n["events"]
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, ne))
    tables["events"] = pa.table({
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, ne), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.round(rng.uniform(0.01, 330.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    texts = [" ".join(rng.choice(WORDS, rng.integers(10, 100))) for _ in range(nd)]
    # one document in twenty is a near-duplicate of an earlier one
    for i in range(20, nd, 20):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    tables["documents"] = pa.table({
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, nd),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0.0, 1.0, (10, DIM))
    vecs = rng.normal(0.0, 1.0, (nv, DIM)) + 0.15 * centers[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(range(nv), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })

    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
