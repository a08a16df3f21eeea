"""Seeded input generator for the benchmark.

Writes the three tables the benchmark's workloads read -- `events`,
`documents` and `embeddings` -- as single parquet files with the same
schemas and value distributions as the engine's test tables (see
FIXTURES.md at the repository root). The same seed always gives the same
files.

    python3 perfbench/gen.py <out_dir> <seed> <events> <documents> <vectors>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line data table agg value key stream window a spark "
         "part group big sort query fast the").split()
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
T0_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00
DAYS_30_US = 30 * 86400 * 1_000_000


def events(rng, n):
    ts = T0_US + np.sort(rng.integers(0, DAYS_30_US, n))
    users = max(1, n // 67)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, n)]),
        "value": pa.array(np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, n)]),
    })


def documents(rng, n):
    """Bag-of-words texts over a 30-word vocabulary (a dense near-duplicate
    corpus); 5% of docs are another doc's text plus one token (near-dups)
    and 1% are verbatim copies (exact dups), so every curation stage
    rejects something."""
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 0 and r < 0.06:
            base = texts[int(rng.integers(0, i))]
            texts.append(base + " dup" if r < 0.05 else base)
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in rng.choice(5, n, p=LANG_P)]),
        "source": pa.array(["src%d" % (i % 20) for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(rng, n, dim=64, labels=10):
    """Unit vectors with a weak per-label offset (isotropic clusters)."""
    centers = rng.normal(0.0, 1.0, (labels, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    lab = rng.integers(0, labels, n).astype(np.int32)
    v = rng.normal(0.0, 1.0, (n, dim)) + 1.1 * centers[lab]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(lab),
    })


def write_all(out_dir, seed, n_events, n_docs, n_vecs):
    """Write each table whose size is positive."""
    os.makedirs(out_dir, exist_ok=True)
    # one independent stream per table: resizing one leaves the others
    for k, (name, make, n) in enumerate((("events", events, n_events),
                                         ("documents", documents, n_docs),
                                         ("embeddings", embeddings, n_vecs))):
        if n > 0:
            table = make(np.random.default_rng([seed, k]), n)
            pq.write_table(table, os.path.join(out_dir, name + ".parquet"))


if __name__ == "__main__":
    out, seed, ne, nd, nv = sys.argv[1:6]
    write_all(out, int(seed), int(ne), int(nd), int(nv))
