"""Seeded catalog tables for the ``catalog`` workload.

Writes the ten tables the query catalog reads (``sources.tables.TABLE_NAMES``)
as single-row-group parquet files, with the column names and physical types
of the TPC-H-ish test tables the catalog is written against, at their
smallest scale (150 customers, 1,500 orders, 6,000 line items, 1,000
events, 500 documents and 500 embeddings). Values are drawn uniformly from
the same domains; documents carry ~6% near duplicates (a copy of an earlier
document with one word added or dropped) and embeddings are unit vectors
loosely clustered by label. Every table is a pure function of the seed.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N = {
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1_500,
    "lineitem": 6_000,
    "events": 1_000,
    "documents": 500,
    "embeddings": 500,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = (["en", "de", "es", "fr", "zh"], [0.4, 0.15, 0.15, 0.15, 0.15])
NEAR_DUP_SHARE = 0.06
EMBED_DIM = 64


def _days(rng, n: int, lo: dt.date, hi: dt.date) -> np.ndarray:
    span = (hi - lo).days
    return np.datetime64(lo) + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng) -> dict:
    n = N["documents"]
    texts: list[str] = []
    seen: set[str] = set()
    for i in range(n):
        if i and rng.random() < NEAR_DUP_SHARE:
            words = texts[int(rng.integers(0, i))].split()
            if len(words) > 10 and rng.random() < 0.5:
                words = words[:-1]
            else:
                words = words + ["dup"]
        else:
            words = [WORDS[k] for k in rng.integers(0, len(WORDS), int(rng.integers(10, 100)))]
        t = " ".join(words)
        while t in seen:  # near duplicates only: no two documents share text
            t += " dup"
        seen.add(t)
        texts.append(t)
    return {
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS[0], n, p=LANGS[1]).tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    }


def _embeddings(rng) -> pa.Table:
    n = N["embeddings"]
    centroids = rng.normal(size=(10, EMBED_DIM))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n)
    vecs = centroids[labels] + rng.normal(scale=0.85, size=(n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype="int64")),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(labels.astype("int32")),
        }
    )


def build(seed: int) -> dict[str, pa.Table]:
    """Every catalog table for ``seed``, as arrow tables."""
    rng = np.random.default_rng([seed, 7])
    i32, i64 = "int32", "int64"
    n = N
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": np.arange(5, dtype=i32), "r_name": REGIONS})
    t["nation"] = pa.table(
        {
            "n_nationkey": np.arange(25, dtype=i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(i32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n["customer"], dtype=i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": rng.integers(0, 25, n["customer"]).astype(i32),
            "c_acctbal": _money(rng, n["customer"], -999.99, 9999.99),
            "c_mktsegment": rng.choice(SEGMENTS, n["customer"]).tolist(),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n["supplier"], dtype=i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(i32),
            "s_acctbal": _money(rng, n["supplier"], -999.99, 9999.99),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n["part"], dtype=i64),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in rng.integers(0, 8, (n["part"], 2))
            ],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n["part"])],
            "p_type": rng.choice(PART_TYPES, n["part"]).tolist(),
            "p_size": rng.integers(1, 51, n["part"]).astype(i32),
            "p_retailprice": np.round(900 + (np.arange(n["part"]) % 1000) / 10, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n["orders"], dtype=i64),
            "o_custkey": rng.integers(0, n["customer"], n["orders"]).astype(i64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]).tolist(),
            "o_totalprice": _money(rng, n["orders"], 1000, 500_000),
            "o_orderdate": pa.array(
                _days(rng, n["orders"], dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
                type=pa.timestamp("us"),
            ),
            "o_orderpriority": rng.choice(PRIORITIES, n["orders"]).tolist(),
        }
    )
    nl = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n["orders"], nl).astype(i64),
            "l_partkey": rng.integers(0, n["part"], nl).astype(i64),
            "l_suppkey": rng.integers(0, n["supplier"], nl).astype(i64),
            "l_linenumber": rng.integers(1, 8, nl).astype(i32),
            "l_quantity": rng.integers(1, 51, nl).astype("float64"),
            "l_extendedprice": _money(rng, nl, 900, 105_000),
            "l_discount": np.round(rng.integers(0, 11, nl) / 100, 2),
            "l_tax": np.round(rng.integers(0, 9, nl) / 100, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], nl).tolist(),
            "l_linestatus": rng.choice(["F", "O"], nl).tolist(),
            "l_shipdate": pa.array(
                _days(rng, nl, dt.date(1995, 1, 2), dt.date(2001, 11, 4)), type=pa.timestamp("us")
            ),
        }
    )
    ne = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400_000_000, ne))
    t["events"] = pa.table(
        {
            "event_id": np.arange(ne, dtype=i64),
            "ts": pa.array(start + offsets.astype("timedelta64[us]"), type=pa.timestamp("us")),
            "user_id": rng.integers(0, 15, ne).astype(i64),
            "event_type": rng.choice(EVENT_TYPES, ne).tolist(),
            "value": np.round(rng.exponential(50.0, ne), 2) + 0.01,
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)],
        }
    )
    t["documents"] = pa.table(_documents(rng))
    t["embeddings"] = _embeddings(rng)
    return t


def write(seed: int, out_dir: str) -> str:
    """Write every table to ``out_dir/<name>.parquet``; return their digest."""
    os.makedirs(out_dir, exist_ok=True)
    h = hashlib.sha256()
    for name, table in build(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        h.update(name.encode())
        for batch in table.to_batches():
            for col in batch.columns:
                h.update(str(col.to_pylist()).encode())
    return h.hexdigest()
