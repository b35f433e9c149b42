"""Seeded generator of the ten star-schema tables the query catalog reads.

Writes ``<out_dir>/<table>.parquet`` (one row group each) with the column
names, types and value domains of the catalog's reference inputs: a
TPC-H-shaped star (region, nation, customer, supplier, part, orders,
lineitem), an ``events`` click stream, a ``documents`` corpus with 5 %
near-duplicates (a copy of an earlier document plus one or two ``dup``
tokens) and 64-dimensional unit ``embeddings`` with ten weak clusters.
The same ``(seed, sf)`` always produces the same rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64
N_LABELS = 10
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def table_sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf``."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(int(150_000 * sf), 50),
        "supplier": max(int(10_000 * sf), 10),
        "part": max(int(200_000 * sf), 100),
        "orders": max(int(1_500_000 * sf), 500),
        "lineitem": max(int(6_000_000 * sf), 2_000),
        "events": max(int(1_000_000 * sf), 1_000),
        "documents": max(int(50_000 * sf), 500),
        "embeddings": max(int(20_000 * sf), 500),
    }


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> pa.Array:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n)
    return pa.array(days * 86_400_000_000, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    vocab = np.array(VOCAB)
    is_dup = rng.random(n) < 0.05
    is_dup[0] = False
    for i in range(n):
        if is_dup[i]:
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" * int(rng.integers(1, 3)))
        else:
            words = vocab[rng.integers(0, len(vocab), int(rng.integers(10, 100)))]
            texts.append(" ".join(words))
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    labels = rng.integers(0, N_LABELS, n).astype(np.int32)
    centroids = rng.normal(0.0, 1.0, (N_LABELS, EMBED_DIM))
    x = rng.normal(0.0, 1.0, (n, EMBED_DIM)) + 0.15 * centroids[labels]
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    x = x.astype(np.float32)
    vecs = pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), EMBED_DIM)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": vecs.cast(pa.list_(pa.float32())),
            "label": labels,
        }
    )


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table under ``out_dir``; returns the row count per table."""
    rng = np.random.default_rng(seed)
    n = table_sizes(sf)
    i32 = np.int32
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {"r_regionkey": np.arange(5, dtype=i32), "r_name": REGIONS}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": np.arange(25, dtype=i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(i32),
        }
    )
    nc = n["customer"]
    tables["customer"] = pa.table(
        {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype(i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
        }
    )
    ns = n["supplier"]
    tables["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns).astype(i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    npart = n["part"]
    keys = np.arange(npart, dtype=np.int64)
    tables["part"] = pa.table(
        {
            "p_partkey": keys,
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, npart)],
            "p_size": rng.integers(1, 51, npart).astype(i32),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
        }
    )
    no = n["orders"]
    tables["orders"] = pa.table(
        {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
        }
    )
    nl = n["lineitem"]
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
            "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
            "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, nl).astype(i32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl),
        }
    )
    ne = n["events"]
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    span = 30 * 86_400_000_000
    ts = np.sort(rng.integers(0, span, ne)) + t0
    tables["events"] = pa.table(
        {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, max(ne // 67, 15), ne).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
            "value": np.maximum(np.round(rng.exponential(50.0, ne), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    tables["documents"] = _documents(rng, n["documents"])
    tables["embeddings"] = _embeddings(rng, n["embeddings"])
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
