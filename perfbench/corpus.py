"""Seeded input tables for the curation/query mix.

Writes ``documents``, ``embeddings``, ``lineitem`` and ``events`` parquet
files with the column types of the engine's reference test data (the
queries in ``plans.queries`` read ``<dir>/<table>.parquet``):

- documents: random texts over a 31-word vocabulary, 20-100 words, plus
  near-duplicate clusters (copies of a base text with a few words
  replaced), so LSH -> connected components has real clusters to find.
  About 16% of the documents sit in a cluster, the largest holds 23. The
  length distribution and the cluster sizes are the same for every seed
  (the seed picks the words, the order and the members), so the work a
  run does varies little between seeds;
- embeddings: 64-dim unit-ish vectors around 10 labelled centroids;
- lineitem / events: TPC-H-style rows for the relational queries.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table value "
    "vector window shuffle index cache"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)


def _cluster_sizes(n: int) -> list[int]:
    """Near-dup cluster sizes covering ~16% of ``n`` docs, skewed small."""
    sizes, target = [], int(0.16 * n)
    for s in (23, 9, 6, 5, 4, 4, 3, 3, 3, 3):
        if sum(sizes) + s <= target:
            sizes.append(s)
    while sum(sizes) + 2 <= target:
        sizes.append(2)
    return sizes


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.permutation(np.resize(np.arange(20, 101), n))
    texts = [" ".join(rng.choice(VOCAB, size=k)) for k in lengths]
    ids = rng.permutation(n)
    pos = 0
    for size in _cluster_sizes(n):
        members = ids[pos:pos + size]
        pos += size
        base = texts[members[0]].split()
        for m in members[1:]:
            words = list(base)
            for j in rng.choice(len(words), size=max(1, len(words) // 30), replace=False):
                words[j] = VOCAB[rng.integers(len(VOCAB))]
            texts[m] = " ".join(words)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P)),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, size=n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    centroids = rng.normal(0, 1, size=(10, dim))
    labels = rng.integers(0, 10, size=n)
    vecs = centroids[labels] + rng.normal(0, 0.6, size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def _lineitem(rng: np.random.Generator, n: int) -> pa.Table:
    n_orders = max(1, n // 4)
    base = dt.datetime(1992, 1, 1)
    qty = rng.integers(1, 51, size=n).astype(np.float64)
    return pa.table({
        "l_orderkey": pa.array(rng.integers(1, n_orders + 1, size=n), pa.int64()),
        "l_partkey": pa.array(rng.integers(1, max(2, n // 30), size=n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, 1000, size=n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, size=n), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, size=n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, size=n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, size=n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], size=n)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], size=n)),
        "l_shipdate": pa.array(
            [base + dt.timedelta(days=int(d)) for d in rng.integers(0, 3650, size=n)],
            pa.timestamp("us"),
        ),
    })


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    start = dt.datetime(2024, 1, 1)
    secs = np.sort(rng.uniform(0, 30 * 86400, size=n))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array([start + dt.timedelta(seconds=float(s)) for s in secs],
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(2, n // 60), size=n), pa.int64()),
        "event_type": pa.array(rng.choice(
            ["view", "click", "purchase", "signup", "error"], size=n)),
        "value": pa.array(np.round(rng.uniform(0, 200, size=n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]),
    })


def write_tables(out_dir: str, seed: int, n_docs: int, n_embeddings: int,
                 n_lineitem: int, n_events: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables = {
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_embeddings),
        "lineitem": _lineitem(rng, n_lineitem),
        "events": _events(rng, n_events),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
