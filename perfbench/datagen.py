"""Deterministic synthetic tables for the benchmark.

The benchmark builds its own inputs inside the checkout, so it needs
no fixture directory from outside. The tables follow the shape of the
engine's TPC-H-ish fixtures (see FIXTURES.md): ``orders`` and
``lineitem`` for the read and write paths, ``documents`` and
``embeddings`` for the LLM-data operators. The table seed is fixed;
the workload seed only drives the request streams (``streams.py``).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42

#: a closed 31-word vocabulary like the fixtures': it keeps term
#: statistics (BM25, PMI, MinHash bands) dense at every scale
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast the row "
    "agg key query a scan batch index"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
STATUSES = ("O", "F", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
RETURNFLAGS = ("A", "N", "R")
LINESTATUSES = ("O", "F")
EMBED_DIM = 64
TAIL_TERMS = 3000

_DAY_US = 86_400_000_000
_EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z


def _dates(rng: np.random.Generator, n: int, days: int) -> pa.Array:
    us = _EPOCH_1995_US + rng.integers(0, days, n) * _DAY_US
    return pa.array(us, type=pa.timestamp("us"))


def orders(rng: np.random.Generator, scale: float) -> pa.Table:
    n = int(1_500_000 * scale)
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, max(1, n // 10), n)),
            "o_orderstatus": pa.array(rng.choice(STATUSES, n)),
            "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000, n), 2)),
            "o_orderdate": _dates(rng, n, 2404),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n)),
        }
    )


def lineitem(rng: np.random.Generator, scale: float) -> pa.Table:
    n = int(6_000_000 * scale)
    n_orders = int(1_500_000 * scale)
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_orders, n)),
            "l_partkey": pa.array(rng.integers(0, max(1, int(200_000 * scale)), n)),
            "l_suppkey": pa.array(rng.integers(0, max(1, int(10_000 * scale)), n)),
            "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900, 105_000, n), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(rng.choice(RETURNFLAGS, n)),
            "l_linestatus": pa.array(rng.choice(LINESTATUSES, n)),
            "l_shipdate": _dates(rng, n, 2500),
        }
    )


def documents(rng: np.random.Generator, scale: float) -> pa.Table:
    n = max(50, int(50_000 * scale))
    # one word in twenty comes from a Zipf-distributed tail of rare
    # terms, which the document-frequency-capped operators
    # (doc_jaccard_knn) need; the rest from the closed vocabulary
    tail = np.array([f"t{i}" for i in range(TAIL_TERMS)])
    texts = []
    for _ in range(n):
        n_words = int(rng.integers(10, 101))
        words = rng.choice(VOCAB, n_words)
        rare = rng.random(n_words) < 0.05
        ranks = np.minimum(rng.zipf(1.3, int(rare.sum())), TAIL_TERMS) - 1
        words[rare] = tail[ranks]
        texts.append(" ".join(words))
    # a few exact copies and one-word edits, so the dedup operators
    # have duplicates and near-duplicates to find at every scale
    for i in range(0, n // 20):
        src = int(rng.integers(0, n))
        dst = int(rng.integers(0, n))
        words = texts[src].split()
        if i % 2:
            words[int(rng.integers(0, len(words)))] = str(rng.choice(VOCAB))
        texts[dst] = " ".join(words)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def embeddings(rng: np.random.Generator, scale: float) -> pa.Table:
    n = max(50, int(20_000 * scale))
    vecs = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.reshape(-1))
    offsets = pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


_TABLES = {
    "orders": orders,
    "lineitem": lineitem,
    "documents": documents,
    "embeddings": embeddings,
}


def generate(out_dir: str, scale: float) -> None:
    """Write every table of ``_TABLES`` as ``<out_dir>/<name>.parquet``.

    Writes into a sibling temp directory and renames it into place,
    so an interrupted run never leaves a half-written table set."""
    tmp = f"{out_dir}.tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    for i, (name, build) in enumerate(_TABLES.items()):
        table = build(np.random.default_rng([TABLE_SEED, i]), scale)
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.rename(tmp, out_dir)


def ensure(data_root: str, scale: float) -> str:
    """Directory holding the tables at ``scale``, generated on first use."""
    out_dir = os.path.join(data_root, f"sf{scale:g}")
    if not os.path.isdir(out_dir):
        os.makedirs(data_root, exist_ok=True)
        generate(out_dir, scale)
    return out_dir

