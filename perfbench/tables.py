"""Seeded synthetic catalog tables for the benchmark's query subset.

Writes ``events``, ``documents`` and ``embeddings`` parquet files with the
column names, physical types and value domains the catalog queries and
their DuckDB oracles expect (the shape of the repo's sf0.01/sf0.1 corpus):

- events: ``1e6 * sf`` rows, ``15000 * sf`` users, timestamps over 30 days
  from 2024-01-01, five event types, exponential values in whole cents,
  ``props`` JSON ``{"k": 0..99}``;
- documents: ``50000 * sf`` docs of 10-100 words from a 30-word vocabulary,
  5 % of them near-duplicates (another doc's text plus `` dup``);
- embeddings: 64-dim unit vectors with ten weakly clustered labels.

Everything is drawn from ``numpy.random.default_rng(seed)``, so the same
seed gives byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "es", "fr", "de", "zh")
LANG_P = (0.41, 0.15, 0.15, 0.14, 0.15)
START_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
SPAN_US = 30 * 86_400_000_000


def _events(rng: np.random.Generator, sf: float) -> pa.Table:
    n = int(round(1_000_000 * sf))
    n_users = max(int(round(15_000 * sf)), 10)
    ts = np.sort(rng.integers(0, SPAN_US, n)) + START_US
    cents = np.round(rng.exponential(5_000.0, n)).astype(np.int64)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n).astype(np.int64)),
            "event_type": pa.array(
                np.array(EVENT_TYPES, dtype=object)[rng.integers(0, 5, n)]
            ),
            "value": pa.array(cents / 100.0),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _documents(rng: np.random.Generator, sf: float) -> pa.Table:
    n = int(round(50_000 * sf))
    vocab = np.array(VOCAB, dtype=object)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))])
        for _ in range(n)
    ]
    dup_rows = rng.choice(n, size=n // 20, replace=False)
    for i in dup_rows:
        src = int(rng.integers(0, n))
        if src != i:
            texts[i] = texts[src] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(
                np.array(LANGS, dtype=object)[rng.choice(5, size=n, p=LANG_P)]
            ),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator, sf: float) -> pa.Table:
    n = max(int(round(20_000 * sf)), 500)
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(0.0, 1.0, (10, 64))
    v = rng.normal(0.0, 1.0, (n, 64)) + 0.6 * centers[labels]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write the three tables for scale factor ``sf`` under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, int(sf * 1000)])
    for name, make in (
        ("events", _events),
        ("documents", _documents),
        ("embeddings", _embeddings),
    ):
        pq.write_table(make(rng, sf), os.path.join(out_dir, f"{name}.parquet"))
