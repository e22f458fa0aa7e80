"""Seeded generator for the corpus tables the LLM-prep queries read.

Writes `documents`, `embeddings` and `events` parquet files with the
make-up of the project's sf test tables (TESTDATA.md), drawn from the
run's seed instead of the tables' fixed one. At scale factor `sf`:

- documents: max(500, 50,000 sf) rows of 10-100 words drawn uniformly
  from the same 30-word vocabulary, languages en/zh/es/fr/de at
  0.42/0.15/0.15/0.14/0.14, 20 round-robin sources, `n_chars` the text
  length; exactly 5 % are near-duplicates (another document's text plus
  " dup", chains allowed), as in the sf tables.
- embeddings: max(500, 20,000 sf) unit-normalised 64-d float32 Gaussians
  with labels 0-9.
- events: 1,000,000 sf events, timestamps sorted over January 1-30 2024,
  15,000 sf users, five equally likely event types, exponential values
  (mean 50, two decimals) and `{"k": 0-99}` props.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("the a merge window customer spark part group stream filter sort "
         "scan vector join query big hash column data agg table line small "
         "slow key fast order row value batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.42, 0.15, 0.15, 0.14, 0.14]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]

SF = 0.01


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = [" ".join(rng.choice(VOCAB, int(rng.integers(10, 101)))) for _ in range(n)]
    for i in rng.choice(n, n // 20, replace=False):
        src = int(rng.integers(0, n - 1))
        texts[i] = texts[src + (src >= i)] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    x = rng.standard_normal((n, 64)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def events(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 24 * 3600 * 10**6
    offs = np.sort(rng.integers(0, span_us, n))
    value = np.round(rng.exponential(50.0, n), 2)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n).astype(np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n), pa.string()),
        "value": pa.array(value, pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
    })


def generate(out_dir: str, seed: int, sf: float = SF) -> None:
    """Write the three tables for `seed` at scale factor `sf` into `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 7])
    tables = (("documents", lambda: documents(rng, max(500, round(50_000 * sf)))),
              ("embeddings", lambda: embeddings(rng, max(500, round(20_000 * sf)))),
              ("events", lambda: events(rng, round(1_000_000 * sf), round(15_000 * sf))))
    for name, make in tables:
        pq.write_table(make(), os.path.join(out_dir, f"{name}.parquet"))
