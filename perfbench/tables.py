"""Seeded tables for batch_mix: events, documents and embeddings.

The shapes and value ranges follow the repository's test fixtures
(FIXTURES.md): events over 30 days with five event types and a JSON props
payload; documents of words from a 30-word vocabulary in five languages,
about 5% of them near-duplicates of an earlier document (the text plus a
trailing "dup"); 64-dimensional unit vectors clustered around ten labels.
The same seed writes the same bytes.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENTS, DOCUMENTS, EMBEDDINGS = 10_000, 500, 500
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join key line merge "
         "order part query row scan slow small sort spark stream table the value vector window").split()
LANGS = ["en", "en", "de", "es", "fr", "zh"]


def events(rng):
    n = EVENTS
    start = np.datetime64("2024-01-01T00:00:00", "us")
    ts = start + np.sort(rng.integers(0, 30 * 86400 * 10**6, n)).astype("timedelta64[us]")
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n, dtype=np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.uniform(0.01, 490.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def documents(rng):
    texts = []
    for i in range(DOCUMENTS):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(8, 90)))))
    return pa.table({
        "doc_id": pa.array(np.arange(DOCUMENTS, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in rng.integers(0, len(LANGS), DOCUMENTS)]),
        "source": pa.array([f"src{i % 20}" for i in range(DOCUMENTS)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(rng):
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, EMBEDDINGS).astype(np.int32)
    v = centers[labels] + rng.normal(0, 1.5, (EMBEDDINGS, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(EMBEDDINGS, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    })


def ensure(root, seed):
    """The seed's table directory under root, written once."""
    out = os.path.join(root, f"seed-{seed}")
    done = os.path.join(out, "_complete")
    if not os.path.exists(done):
        os.makedirs(out, exist_ok=True)
        rng = np.random.default_rng(seed)
        for name, make in (("events", events), ("documents", documents), ("embeddings", embeddings)):
            pq.write_table(make(rng), os.path.join(out, f"{name}.parquet"))
        open(done, "w").close()
    return out
