"""Seeded input generation for the benchmark.

The benchmark never reads a shared test-data directory: every run
generates its tables from ``--seed`` into a fresh directory of its own,
with the schemas the engine's loader expects (``plans.registry.load``)
and the shape of the repository's sf0.1 test data, measured from its
``events.parquet`` (100,000 rows) and ``documents.parquet`` (5,000 rows):

- ``events``: ``event_id`` int64 in time order, ``ts`` timestamp[us]
  (tz-less) from 2024-01-01 with exponential gaps of mean 25.92 s
  (30 days over 100k events; microsecond resolution), ``user_id``
  uniform over 1,500 users, ``event_type`` uniform over five types,
  ``value`` exponential with mean 50 rounded to cents, ``props``
  ``{"k": n}`` with ``n`` uniform over 100 keys.
- ``documents``: ``doc_id`` int64, ``text`` of 10–99 words drawn from a
  30-word vocabulary, ``lang`` (en 40%, four others 15% each),
  ``source`` ``src0``–``src19`` round-robin, ``n_chars``. 5% of
  documents are near-copies of an earlier one (its text plus a trailing
  ``dup`` token); sf0.1 has 255 such documents in 5,000.

The same seed gives byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
USERS = 1500
EVENT_GAP_S = 25.92  # mean gap: 100k events span 30 days
VALUE_MEAN = 50.0
PROPS_KEYS = 100
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)


def events_table(rng: np.random.Generator, n: int) -> pa.Table:
    """``n`` events over about ``n * EVENT_GAP_S`` seconds from 2024-01-01:
    exponential gaps in microseconds, uniform users and types, values
    exponential with mean ``VALUE_MEAN`` rounded to cents."""
    gaps_us = rng.exponential(EVENT_GAP_S * 1e6, n).astype(np.int64)
    ts = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64) + np.cumsum(gaps_us)
    props = [f'{{"k": {k}}}' for k in rng.integers(0, PROPS_KEYS, n)]
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, USERS, n, dtype=np.int64)),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
            "value": pa.array(np.round(rng.exponential(VALUE_MEAN, n), 2)),
            "props": pa.array(props),
        }
    )


def _doc_texts(rng: np.random.Generator, n: int) -> list[str]:
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(VOCAB, int(rng.integers(10, 100)))
            texts.append(" ".join(words))
    return texts


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    texts = _doc_texts(rng, n)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def stage_tables(out_dir: str, seed: int, sizes: dict[str, int]) -> None:
    """Write each requested table as ``{out_dir}/{name}.parquet``.
    ``sizes`` maps a table name to its row count; ``events`` is the one
    batch table the workloads use."""
    makers = {"events": events_table}
    os.makedirs(out_dir, exist_ok=True)
    for i, (name, n) in enumerate(sorted(sizes.items())):
        rng = np.random.default_rng([seed, i])
        pq.write_table(makers[name](rng, n), os.path.join(out_dir, f"{name}.parquet"))


def stage_document_stream(out_dir: str, seed: int, n_batches: int, batch_docs: int) -> list[int]:
    """Write one corpus of ``n_batches * batch_docs`` documents as
    ``n_batches`` parquet files of ``batch_docs`` rows, named so a file
    stream reads them in order. A near-copy may copy any earlier
    document, so later files hold copies of documents in earlier ones.
    Returns every staged id."""
    os.makedirs(out_dir, exist_ok=True)
    t = documents_table(np.random.default_rng([seed, 99]), n_batches * batch_docs)
    for b in range(n_batches):
        part = t.slice(b * batch_docs, batch_docs)
        pq.write_table(part, os.path.join(out_dir, f"part-{b:05d}.parquet"))
    return t.column("doc_id").to_pylist()
