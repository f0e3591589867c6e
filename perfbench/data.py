"""Seeded synthetic input tables for the benchmark.

The tables copy the star schema of the tables TESTDATA.md lists: the
seven TPC-H-like tables plus ``events``, ``documents`` and
``embeddings``, with the same column names, arrow and parquet types and
value domains (README.md records the comparison).  As in those tables,
no column holds a null, and every timestamp is stored as INT64
TIMESTAMP(MICROS) (``datetime64[us]`` through pyarrow).  Row counts
scale with ``sf`` as those tables do (lineitem = 6e6 * sf);
``documents`` and ``embeddings`` keep the 500 rows they have at sf0.001
and sf0.01.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "red", "hot", "old", "large", "small", "green", "bright"]
PART_NOUN = ["anvil", "widget", "plate", "ring", "rod", "bolt", "gizmo", "gear"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
N_DOCS = 500
N_DUP_DOCS = 25
EMB_DIM = 64


def row_counts(sf: float) -> dict:
    return {
        "region": 5,
        "nation": 25,
        "customer": max(int(150_000 * sf), 10),
        "supplier": max(int(10_000 * sf), 5),
        "part": max(int(200_000 * sf), 20),
        "orders": max(int(1_500_000 * sf), 100),
        "lineitem": max(int(6_000_000 * sf), 400),
        "events": max(int(1_000_000 * sf), 200),
        "documents": N_DOCS,
        "embeddings": N_DOCS,
    }


def _days(rng, n, start, span_days):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def make_tables(sf: float, seed: int) -> dict[str, pd.DataFrame]:
    """All tables as pandas frames; the same (sf, seed) gives the same data."""
    rng = np.random.default_rng(seed)
    n = row_counts(sf)
    i32 = np.int32
    out = {}
    out["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=i32), "r_name": REGIONS,
    })
    out["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=i32),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(i32),
    })
    nc = n["customer"]
    out["customer"] = pd.DataFrame({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{k:09d}" for k in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(i32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": rng.choice(SEGMENTS, nc),
    })
    ns = n["supplier"]
    out["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{k:09d}" for k in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(i32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
    })
    npart = n["part"]
    out["part"] = pd.DataFrame({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [
            f"{a} {b}" for a, b in zip(
                rng.choice(PART_ADJ, npart), rng.choice(PART_NOUN, npart),
            )
        ],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, npart)],
        "p_type": rng.choice(PART_TYPES, npart),
        "p_size": rng.integers(1, 51, npart).astype(i32),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10.0, 2),
    })
    no = n["orders"]
    out["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": np.round(rng.uniform(1000, 500000, no), 2),
        "o_orderdate": _days(rng, no, "1995-01-01", 2404),
        "o_orderpriority": rng.choice(PRIORITIES, no),
    })
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    out["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _days(rng, nl, "1995-01-02", 2498),
    })
    ne = n["events"]
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, ne))
    out["events"] = pd.DataFrame({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(ne // 66, 10), ne).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.maximum(np.round(rng.exponential(50.0, ne), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    lengths = rng.integers(10, 100, N_DOCS)
    texts = [" ".join(rng.choice(WORDS, k)) for k in lengths]
    # near-duplicates: a copy of another document with one word appended
    for i in rng.choice(N_DOCS, N_DUP_DOCS, replace=False):
        j = int(rng.integers(0, N_DOCS - 1))
        texts[i] = texts[j if j < i else j + 1] + " dup"
    out["documents"] = pd.DataFrame({
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, N_DOCS, p=LANG_P),
        "source": [f"src{k % 20}" for k in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, N_DOCS)
    centers = rng.normal(0, 1, (10, EMB_DIM))
    vecs = rng.normal(0, 1, (N_DOCS, EMB_DIM)) + 0.15 * centers[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(N_DOCS, dtype=np.int64),
        "embedding": list(vecs.astype(np.float32)),
        "label": labels.astype(i32),
    })
    return out


def write_tables(tables: dict[str, pd.DataFrame], out_dir: str) -> dict[str, int]:
    """Write one parquet file per table; returns the file sizes in bytes."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, df in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        df.to_parquet(path, index=False)
        sizes[name] = os.path.getsize(path)
    return sizes
