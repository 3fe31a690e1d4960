"""Seeded generator for the benchmark's input tables.

Writes the ten fixture tables the query registry reads (``region`` ..
``embeddings``) as one parquet file each, with the schemas and value
distributions of the repository's synthetic fixtures (see FIXTURES.md).
Row counts are fixed (``SF``, ``N_DOCS``, ``N_EMBEDDINGS``); ``seed``
changes every value but no size, so runs with different seeds do the same
amount of work.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the row key agg scan slow fast table value part hash merge batch"
    " spark line sort window data column join small big order group"
    " customer query stream filter vector"
).split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)
# TPC-H-style scale factor of the relational tables and the event log
SF = 0.01
N_DOCS = 500
N_EMBEDDINGS = 500
# share of documents that copy an earlier one (near-duplicate pairs)
DUP_SHARE = 0.05
SIZES = {
    "customer": int(150_000 * SF),
    "supplier": int(10_000 * SF),
    "part": int(200_000 * SF),
    "orders": int(1_500_000 * SF),
    "lineitem": int(6_000_000 * SF),
    "events": int(1_000_000 * SF),
}


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random texts over a 30-word vocabulary, 10-100 words each. A
    ``DUP_SHARE`` of the documents copy an earlier document and append the
    word ``dup``, which makes near-duplicate pairs (and, when two copies
    share a base, exact duplicates)."""
    lengths = rng.integers(10, 101, n)
    words = np.array(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lengths]
    n_dup = int(n * DUP_SHARE)
    dup_ids = rng.choice(np.arange(1, n), n_dup, replace=False)
    for i in dup_ids:
        texts[i] = texts[int(rng.integers(0, i))].split(" dup")[0] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def generate(out_dir: str, seed: int) -> dict[str, int]:
    """Write every table under ``out_dir``; return the row counts."""
    rng = np.random.default_rng(seed)
    n = SIZES
    os.makedirs(out_dir, exist_ok=True)
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
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(SEGMENTS, nc),
    })
    ns = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = n["part"]
    tables["part"] = pa.table({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(PART_TYPES, npart),
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10, 1),
    })
    no = n["orders"]
    span_days = 2404  # 1995-01-01 .. 2001-08-01
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": rng.choice(("F", "O", "P"), no),
        "o_totalprice": _money(rng, 1000, 500_000, no),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, span_days, no) * DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, no),
    })
    nl = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(("A", "N", "R"), nl),
        "l_linestatus": rng.choice(("F", "O"), nl),
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, span_days + 95, nl) * DAY_US),
    })
    ne = n["events"]
    tables["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": _ts(EPOCH_2024 + np.sort(rng.integers(0, 30 * DAY_US, ne))),
        "user_id": rng.integers(0, max(nc // 10, 1), ne).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    tables["documents"] = documents(rng, N_DOCS)
    nv = N_EMBEDDINGS
    vecs = rng.standard_normal((nv, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, nv).astype(np.int32),
    })
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in tables.items()}
