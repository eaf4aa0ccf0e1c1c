"""Seeded synthetic input tables in the shape the catalog ingests.

``metacat_spark.catalog.from_tpch`` lifts TPC-H-ish parquet tables
(lineitem, orders, documents, embeddings) into the metacat shape; this
module writes such a directory from a seed, so a benchmark run needs
no external test data. The same seed gives byte-identical inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# One catalog file per line item; memberships are 3 per file by
# construction of fixtures.files_datasets_sql.
SIZES = {"orders": 2_500, "max_lines": 7, "documents": 1_000,
         "embeddings": 1_000, "dim": 32}

_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
               "5-LOW"]
_WORDS = ("spark batch part line column order small sort fast value "
          "scan a hash slow group agg filter query big key window row "
          "table stream merge data the vector index join").split()
_LANGS = ["en", "de", "fr", "zh", "es"]
_EPOCH_1992 = np.datetime64("1992-01-01T00:00:00", "us")


def _ts(rng, n):
    days = rng.integers(0, 7 * 365, n)
    return _EPOCH_1992 + days.astype("timedelta64[D]").astype(
        "timedelta64[us]")


def _orders(rng, n):
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(1, 1500, n).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": np.round(rng.uniform(1e3, 4e5, n), 2),
        "o_orderdate": _ts(rng, n),
        "o_orderpriority": rng.choice(_PRIORITIES, n),
    })


def _lineitem(rng, n_orders, max_lines):
    lines = rng.integers(1, max_lines + 1, n_orders)
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    # (orderkey, linenumber) is unique, so every file id is unique
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]
                          ).astype(np.int32)
    n = len(okey)
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(1, 2000, n).astype(np.int64),
        "l_suppkey": rng.integers(1, 100, n).astype(np.int64),
        "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": rng.choice(["R", "A", "N"], n),
        "l_linestatus": rng.choice(["O", "F"], n),
        "l_shipdate": _ts(rng, n),
    })


def _documents(rng, n):
    texts = []
    for i in range(n):
        k = int(rng.integers(8, 60))
        words = rng.choice(_WORDS, k)
        if i % 10 == 1 and texts:
            # near-duplicates: minhash dedup has pairs to find
            texts.append(texts[-1] + " " + str(words[0]))
            continue
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n),
        "source": [f"src{i % 7}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng, n, dim):
    centers = rng.normal(0, 1, (8, dim))
    label = rng.integers(0, 8, n)
    vecs = (centers[label] + rng.normal(0, 0.3, (n, dim))
            ).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })


def write_tables(out_dir: str, seed: int) -> dict:
    """Write the input parquet tables for ``seed``; returns row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    tables = {
        "orders": _orders(rng, SIZES["orders"]),
        "lineitem": _lineitem(rng, SIZES["orders"], SIZES["max_lines"]),
        "documents": _documents(rng, SIZES["documents"]),
        "embeddings": _embeddings(rng, SIZES["embeddings"],
                                  SIZES["dim"]),
    }
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
