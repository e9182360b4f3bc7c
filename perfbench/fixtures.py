"""Seeded generator of the registry's input tables.

The registry queries (``plans.registry.REGISTRY``) read ten parquet tables
from a directory: a TPC-H-like star schema plus ``events``, ``documents``
and ``embeddings``. This module writes those tables with the same schemas
and value domains, sized like the 0.001 scale factor, from a seed alone,
so the benchmark needs no data outside its own checkout.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["FURNITURE", "MACHINERY", "BUILDING", "HOUSEHOLD", "AUTOMOBILE"]
PART_ADJ = ["cold", "small", "large", "blue", "old", "new", "hot", "red", "tiny", "big"]
PART_NOUN = ["widget", "bolt", "rod", "anvil", "ring", "gizmo", "plate", "gear"]
PART_TYPES = ["ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]
DOC_LANGS = ["en", "fr", "es", "zh", "de"]
WORDS = (
    "scan column window order sort part agg value line key join merge group "
    "query a vector hash slow stream filter fast the batch spark table small "
    "data big customer row"
).split()
EMBED_DIM = 64
N_LABELS = 10


def _ts(days: np.ndarray, base: str = "1995-01-01") -> pa.Array:
    start = np.datetime64(base, "us")
    return pa.array(start + (days * 86_400e6).astype("timedelta64[us]"), pa.timestamp("us"))


def tables(seed: int, scale: float = 1.0) -> dict[str, pa.Table]:
    """Build every registry table; ``scale`` multiplies the row counts of
    the fact-like tables (1.0 = 0.001 scale factor)."""
    rng = np.random.default_rng(seed)
    n_cust, n_part, n_ord = int(150 * scale), int(200 * scale), int(1500 * scale)
    n_line, n_ev, n_doc, n_vec = int(6000 * scale), int(1000 * scale), int(500 * scale), int(500 * scale)
    cents = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": cents(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(10), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(10)],
        "s_nationkey": pa.array(rng.integers(0, 25, 10), pa.int32()),
        "s_acctbal": cents(-999.99, 9999.99, 10),
    })
    out["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + np.arange(n_part) * 0.1, 2),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": cents(1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(rng.integers(0, 2403, n_ord).astype(float)),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    qty = rng.integers(1, 51, n_line).astype(float)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 10, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": rng.choice(["N", "A", "R"], n_line),
        "l_linestatus": rng.choice(["O", "F"], n_line),
        "l_shipdate": _ts(rng.integers(1, 2500, n_line).astype(float)),
    })
    ev_days = np.sort(rng.uniform(0.0, 30.0, n_ev))
    out["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": _ts(np.round(ev_days * 86_400e6) / 86_400e6, base="2024-01-01"),
        "user_id": pa.array(rng.integers(0, 15, n_ev), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": cents(0.01, 330.0, n_ev),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })
    # documents: random word strings, every tenth one a near-duplicate of
    # an earlier document with a marker word appended (the dedup entries'
    # positive cases)
    texts: list[str] = []
    for i in range(n_doc):
        if i >= 10 and i % 10 == 0:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    out["documents"] = pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(DOC_LANGS, n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    # embeddings: unit vectors scattered around one centroid per label
    centroids = rng.normal(size=(N_LABELS, EMBED_DIM))
    labels = rng.integers(0, N_LABELS, n_vec)
    vecs = centroids[labels] + 0.6 * rng.normal(size=(n_vec, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def write(directory: str, seed: int, scale: float = 1.0) -> int:
    """Write every table as ``<directory>/<name>.parquet``; returns bytes."""
    os.makedirs(directory, exist_ok=True)
    total = 0
    for name, table in tables(seed, scale).items():
        path = os.path.join(directory, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total
