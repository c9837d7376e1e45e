"""Seeded input generator of the benchmark.

Writes the events, documents and embeddings tables with the schemas of
the sf testdata tables and the distributions `graft.ScaleGen` documents:

- events: uniform timestamps over 30 days from 2024-01-01, uniform users,
  value ~ Exp(mean 49.6) rounded to 2 dp (at least 0.01), five uniform
  event types, props = {"k": 0..99};
- documents: 10..99 tokens over a 30-word vocabulary plus the rare "dup"
  token (1/1024), language en 45.6% and de/es/fr/zh 13.6% each,
  20 sources, 0.16% exact copies of other documents (at least two);
- embeddings: 64-dim unit float32 vectors around 10 Gaussian centroids
  (centroid sigma 2, noise sigma 1).

The `skew` variant is ScaleGen's `--skew`: one user owns 30% of events,
one source 30% of documents, a 12-token boilerplate line is appended to
60% of documents, and 10% of documents are ~0.9-Jaccard near-duplicates
of document 0 (5% of their tokens replaced). These shares are exact
counts at seeded positions rather than per-row coin flips.

The same (seed, sizes) always gives the same files; another seed gives
other values. Each table is split into at least two parquet files, as
ScaleGen does, so scans have more than one input split.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = np.array([
    "join", "hash", "row", "batch", "scan", "customer", "column", "filter",
    "small", "slow", "merge", "order", "vector", "line", "table", "data",
    "agg", "value", "key", "stream", "window", "spark", "a", "group",
    "part", "big", "sort", "query", "fast", "the"])
BOILERPLATE = "the fast spark scan reads the big table and the slow query waits"
EVENT_TYPES = np.array(["signup", "error", "click", "view", "purchase"])
EPOCH_2024_US = 1704067200000000
MICROS_30D = 30 * 86400 * 1000000


def _rng(seed, *stream):
    return np.random.default_rng([seed, *stream])


def _exact(r, n, frac):
    """Mask with exactly round(frac * n) rows set, at seeded positions: the
    skew's shares stay fixed from seed to seed, so the seed changes values
    but not how much work the hot key or cluster holds."""
    mask = np.zeros(n, dtype=bool)
    mask[r.choice(n, round(frac * n), replace=False)] = True
    return mask


def _write(table, path, rows_per_file):
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    parts = max(2, min(256, n // rows_per_file))
    bounds = np.linspace(0, n, parts + 1).astype(int)
    for i in range(parts):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def events(seed, n, users, skew):
    r = _rng(seed, 1)
    user = r.integers(0, users, n)
    if skew:
        user = np.where(_exact(r, n, 0.30), 0, user)
    ts = EPOCH_2024_US + np.floor(r.random(n) * MICROS_30D).astype(np.int64)
    value = np.maximum(np.round(-49.6 * np.log(1.0 - r.random(n)), 2), 0.01)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(user.astype(np.int64)),
        "event_type": pa.array(EVENT_TYPES[r.integers(0, 5, n)]),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)]),
    })


def _words(seed, tid):
    r = _rng(seed, 2, tid)
    w = r.integers(0, 1024, int(r.integers(10, 100)))
    return np.where(w == 1023, "dup", VOCAB[w % 30])


def documents(seed, n, skew):
    r = _rng(seed, 3)
    ids = np.arange(n)
    tid = ids.copy()
    # exact copies: odd ids in the upper half copy even ids of the lower
    # half, so every planted pair also spans dedup_incremental's
    # history (even) / batch (odd) split
    n_dups = min(max(2, round(0.0016 * n)), n // 4)
    if n_dups:
        dup = r.choice(np.arange(n // 2 + 1 - (n // 2) % 2, n, 2), n_dups, replace=False)
        tid[dup] = 2 * r.integers(0, (n // 2 + 1) // 2, n_dups)
    if skew:
        tid = np.where(_exact(r, n, 0.10), 0, tid)
    boiler = _exact(r, n, 0.60) if skew else np.zeros(n, dtype=bool)
    texts = []
    for i in range(n):
        words = _words(seed, int(tid[i]))
        if skew and tid[i] != i:
            m = _rng(seed, 4, i)
            hit = m.random(len(words)) < 0.05
            words = np.where(hit, VOCAB[m.integers(0, 30, len(words))], words)
        text = " ".join(words)
        texts.append(text + " " + BOILERPLATE if boiler[i] else text)
    src = r.integers(0, 20, n)
    if skew:
        src = np.where(_exact(r, n, 0.30), 0, src)
    lu = r.random(n)
    lang = np.select([lu < 0.456, lu < 0.592, lu < 0.728, lu < 0.864],
                     ["en", "de", "es", "fr"], "zh")
    return pa.table({
        "doc_id": pa.array(ids.astype(np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(lang),
        "source": pa.array([f"src{s}" for s in src]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(seed, n):
    r = _rng(seed, 5)
    centroids = r.standard_normal((10, 64)) * 2.0
    label = r.integers(0, 10, n)
    raw = centroids[label] + r.standard_normal((n, 64))
    unit = (raw / np.linalg.norm(raw, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(unit), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def generate(out_dir, seed, events_n, users, documents_n, embeddings_n, skew):
    """Writes the non-empty tables under out_dir; returns {table: rows}."""
    tables = {}
    if events_n:
        tables["events"] = (events(seed, events_n, users, skew), 30000)
    if documents_n:
        tables["documents"] = (documents(seed, documents_n, skew), 3000)
    if embeddings_n:
        tables["embeddings"] = (embeddings(seed, embeddings_n), 2000)
    for name, (table, per_file) in tables.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"), per_file)
    return {name: t.num_rows for name, (t, _) in tables.items()}
