"""Seeded inputs for the catalog workload: the ``events``, ``documents``
and ``embeddings`` tables the served queries read.

The tables copy the schemas and value shapes of the catalog's test
fixtures (see FIXTURES.md at the repository root): events are time-sorted
over January 2024 with two-decimal values, documents draw words from a
30-word vocabulary and one in twenty repeats an earlier text with a
``dup`` suffix, embeddings are 64-d unit vectors with ten labels. Every
value comes from one ``numpy`` generator seeded by the benchmark seed, so
the same seed writes the same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("events", "documents", "embeddings")

EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
VOCAB = np.array(
    "the a data spark row column table query join filter sort group agg "
    "window key value hash scan merge batch stream vector order line part "
    "customer big small fast slow".split()
)
LANGS = np.array(["en", "de", "fr", "es", "zh"])
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
USERS_PER_EVENT = 0.015  # 150 users per 10k events, as in the test tables
DIM = 64


def _events(rng: np.random.Generator, n: int) -> pd.DataFrame:
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86_400 * 1_000_000
    ts = np.sort(start + rng.integers(0, span, n))
    n_users = max(round(n * USERS_PER_EVENT), 1)
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    texts = [
        " ".join(VOCAB[rng.integers(0, len(VOCAB), rng.integers(10, 100))])
        for _ in range(n)
    ]
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": LANGS[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    x = rng.standard_normal((n, DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def write_catalog_tables(out_dir: str, seed: int, n_events: int,
                         n_docs: int, n_vecs: int) -> dict[str, int]:
    """Write ``<table>.parquet`` for each catalog table; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables = {
        "events": pa.Table.from_pandas(_events(rng, n_events), preserve_index=False),
        "documents": pa.Table.from_pandas(_documents(rng, n_docs), preserve_index=False),
        "embeddings": _embeddings(rng, n_vecs),
    }
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
