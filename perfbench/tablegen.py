"""Seeded tables for the library workload.

The registry queries the library workload runs read only ``events``,
``documents`` and ``embeddings``.  This writes those three, with the
schemas of FIXTURES.md section B at the sf0.01 row counts: 10,000
events over 30 days from 150 users, 500 documents over a 30-token
vocabulary with near-duplicate pairs planted, and 500 unit-length
64-d embeddings around 10 labelled centroids.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("events", "documents", "embeddings")
_VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_EVENT_TYPES = ("signup", "error", "click", "view", "purchase")
_LANGS = ("en", "zh", "es", "de", "fr")
_LANG_P = (0.44, 0.15, 0.14, 0.14, 0.13)


def events(rng: np.random.Generator, n: int = 10_000) -> pa.Table:
    start_us = 1_704_067_200_000_000  # 2024-01-01T00:00:00
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n)) + start_us
    value = np.round(rng.exponential(50.0, n), 2) + 0.01
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 150, n, dtype=np.int64)),
            "event_type": pa.array(rng.choice(_EVENT_TYPES, n).tolist()),
            "value": pa.array(value),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def documents(rng: np.random.Generator, n: int = 500, near_dups: int = 25) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i >= n - near_dups:
            # a near-copy of an earlier document: a few tokens changed
            words = texts[int(rng.integers(0, n - near_dups))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = "dup"
        else:
            words = rng.choice(_VOCAB, int(rng.integers(10, 100))).tolist()
        texts.append(" ".join(words))
    order = rng.permutation(n)
    texts = [texts[i] for i in order]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P).tolist()),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def embeddings(rng: np.random.Generator, n: int = 500, dim: int = 64) -> pa.Table:
    centroids = rng.normal(0.0, 1.0, (10, dim))
    label = rng.integers(0, 10, n)
    v = centroids[label] + rng.normal(0.0, 0.8, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
            "label": pa.array(label.astype(np.int32)),
        }
    )


def write_all(seed: int, sf_dir: str) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    for name, make in (("events", events), ("documents", documents), ("embeddings", embeddings)):
        pq.write_table(make(rng), os.path.join(sf_dir, f"{name}.parquet"))
