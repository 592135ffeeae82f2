"""Seeded tables for the query_mix workload.

`documents`, `embeddings` and `events` follow the schemas and value
distributions of the repository's sf0.1 test tables (5000 docs over a
31-word vocabulary, 2000 unit 64-d embeddings in 10 labelled clusters,
100k events of 5 types by 1500 users in January 2024), so the registry
queries and their DuckDB oracles read them unchanged. `corpus` is the
curation chain's input: permuted replicas of the documents. Each replica
sorts a document's words by a hash of (word, position, replica), so unigram
statistics stay those of the base document while word n-grams differ
between replicas; identical base texts permute identically, so exact
duplicates survive within a replica.

Nothing here imports the package's bench modules.
"""

from __future__ import annotations

import datetime
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key "
    "query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        roll = rng.random()
        if i > 10 and roll < 0.002:  # exact duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and roll < 0.05:  # near duplicate: an earlier doc plus one word
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(VOCAB, size=int(rng.integers(10, 101)))
            texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P).tolist()),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, size=n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _perm_key(word: str, pos: int, replica: int) -> bytes:
    return hashlib.blake2b(f"{word}\0{pos}\0{replica}".encode(), digest_size=8).digest()


def corpus(docs: pa.Table, copies: int) -> pa.Table:
    """(doc_id, text): `copies` permuted replicas of docs."""
    base = docs.column("text").to_pylist()
    ids, texts = [], []
    for rep in range(copies):
        for j, text in enumerate(base):
            words = text.split(" ")
            order = sorted(range(len(words)), key=lambda p: _perm_key(words[p], p, rep))
            ids.append(rep * len(base) + j)
            texts.append(" ".join(words[p] for p in order))
    return pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts)})


def embeddings(rng: np.random.Generator, n: int, dim: int = 64, k: int = 10) -> pa.Table:
    centers = rng.normal(size=(k, dim))
    labels = rng.integers(0, k, size=n)
    vecs = centers[labels] + rng.normal(scale=1.2, size=(n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )


def events(rng: np.random.Generator, n: int, users: int = 1500) -> pa.Table:
    start = datetime.datetime(2024, 1, 1)
    span_us = 30 * 24 * 3600 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, size=n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array([start + datetime.timedelta(microseconds=int(t)) for t in ts], pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, size=n).astype(np.int64)),
            "event_type": pa.array(rng.choice(EVENT_TYPES, size=n).tolist()),
            "value": pa.array(np.round(rng.exponential(50.0, size=n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]),
        }
    )


def write_tables(seed: int, out_dir: str, docs: int, copies: int, vecs: int, n_events: int) -> dict[str, int]:
    """Write every table as <out_dir>/<name>.parquet; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    doc_table = documents(rng, docs)
    tables = {
        "documents": doc_table,
        "corpus": corpus(doc_table, copies),
        "embeddings": embeddings(rng, vecs),
        "events": events(rng, n_events),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in tables.items()}
