"""Seeded generator for the tables the curation queries read.

Same schemas and value shapes as the project's sf0.01 test tables
(TPC-H-ish star schema plus ``documents`` and ``embeddings``), written as
one parquet file per table so ``__spark_entry__.queries()`` and the DuckDB
oracle both read them from a data dir. Only the tables the benchmark's
queries read are written.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the row scan key agg hash join batch column customer filter small slow "
    "merge order vector line table data value stream window spark part group "
    "big sort query fast"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
SIZES = {
    "customer": 1500,
    "supplier": 100,
    "orders": 15000,
    "lineitem": 60000,
    "documents": 500,
    "embeddings": 500,
}
_DAY_US = 86_400 * 10**6
_EPOCH_1995 = 9131  # days from 1970-01-01 to 1995-01-01


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array((_EPOCH_1995 + days).astype("int64") * _DAY_US, pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for _ in range(n):
        if texts and rng.random() < 0.05:
            # near-duplicate of an earlier document: one word dropped, a
            # marker appended (the shape MinHash/SimHash dedup must catch)
            words = texts[int(rng.integers(len(texts)))].split()
            del words[int(rng.integers(len(words)))]
            texts.append(" ".join(words + ["dup"]))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(VOCAB, k)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(size=(10, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    x = 0.15 * centers[labels] + rng.normal(scale=dim**-0.5, size=(n, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def build(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    nc, ns, no, nl = (SIZES[t] for t in ("customer", "supplier", "orders", "lineitem"))
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": pa.array(_money(rng, nc, -999.99, 9999.99)),
            "c_mktsegment": pa.array(
                rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc)
            ),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": pa.array(_money(rng, ns, -999.99, 9999.99)),
        }
    )
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no)),
            "o_totalprice": pa.array(_money(rng, no, 1000.0, 500000.0)),
            "o_orderdate": _ts(rng.integers(0, 2400, no)),
            "o_orderpriority": pa.array(
                rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no)
            ),
        }
    )
    partkey = rng.integers(0, 2000, nl)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(partkey, pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * (900.0 + partkey / 10.0) * rng.uniform(0.99, 1.01, nl), 2)),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], nl)),
            "l_shipdate": _ts(rng.integers(1, 2500, nl)),
        }
    )
    return {
        "customer": customer,
        "supplier": supplier,
        "orders": orders,
        "lineitem": lineitem,
        "documents": _documents(rng, SIZES["documents"]),
        "embeddings": _embeddings(rng, SIZES["embeddings"]),
    }


def write(seed: int, data_dir: str) -> dict[str, int]:
    """Write every table to ``data_dir/<name>.parquet``; returns row counts."""
    os.makedirs(data_dir, exist_ok=True)
    counts = {}
    for name, table in build(seed).items():
        pq.write_table(table, os.path.join(data_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
