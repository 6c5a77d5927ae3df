"""Seeded input tables for the ``contract_leaves`` workload.

Writes the four tables the benchmarked contract queries read
(``documents``, ``embeddings``, ``lineitem``, ``part``) as one parquet file
each, with the column names and types of the contract's test data. Only
the columns those queries and their DuckDB oracles use are generated.
The same seed gives byte-identical files.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_DOCS = 500
N_VECS = 500
DIM = 64
N_ORDERS = 15_000
N_PARTS = 2_000
N_SUPPS = 100
N_BRANDS = 25

_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark window sort line order group data column join small big query "
    "filter stream vector customer and of to in is for with that this"
).split()


def _documents(rng: np.random.Generator) -> pa.Table:
    texts = []
    for i in range(N_DOCS):
        if i % 10 == 9:
            # near-duplicate of the previous document: one word replaced
            words = texts[-1].split()
            words[int(rng.integers(len(words)))] = _WORDS[int(rng.integers(len(_WORDS)))]
        else:
            n = int(rng.integers(20, 80))
            words = [_WORDS[int(j)] for j in rng.integers(0, len(_WORDS), n)]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": pa.array(texts, pa.string()),
    })


def _embeddings(rng: np.random.Generator) -> pa.Table:
    v = rng.normal(size=(N_VECS, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
    })


def _lineitem(rng: np.random.Generator) -> pa.Table:
    lines = rng.integers(1, 8, N_ORDERS)
    orderkey = np.repeat(np.arange(N_ORDERS), lines)
    n = len(orderkey)
    return pa.table({
        "l_orderkey": pa.array(orderkey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PARTS, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPS, n), pa.int64()),
    })


def _part(rng: np.random.Generator) -> pa.Table:
    brands = rng.integers(1, N_BRANDS + 1, N_PARTS)
    return pa.table({
        "p_partkey": pa.array(np.arange(N_PARTS), pa.int64()),
        "p_brand": pa.array([f"Brand#{b}" for b in brands], pa.string()),
    })


TABLES = {
    "documents": _documents,
    "embeddings": _embeddings,
    "lineitem": _lineitem,
    "part": _part,
}


def write_tables(out_dir: Path, seed: int) -> None:
    out_dir.mkdir(parents=True, exist_ok=True)
    for i, (name, make) in enumerate(TABLES.items()):
        rng = np.random.default_rng([seed, i])
        pq.write_table(make(rng), out_dir / f"{name}.parquet")
