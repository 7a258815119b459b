"""Seeded input generators for the benchmark: documents, embeddings, events.

The tables keep the properties the declared queries depend on (the same
family `graft.data.ScaleGen` documents):

  documents   the 30-word base vocabulary, 10..100 words per doc, empirical
              language weights, 20 sources, planted exact duplicates at one
              pair per 640 docs and near duplicates (base text + one trailing
              "dup" token, so jaccard >= 0.88) at one pair per 20 docs;
  embeddings  10 seeded unit centroids in 64 dimensions, each point
              normalize(3 * centroid + N(0, 1)), label = centroid;
  events      users uniform over a fixed population, five event types,
              `props` JSON {"k": 0..99}, exponential `value` (mean 50, 2 dp)
              and `ts` spread uniformly over 30 days, event ids in ts order.

Each table is a pure function of (seed, size). `generate` writes them once
per seed into a cache directory and returns it; generation never runs inside
a timed or set-up window.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = [("en", 0.412), ("zh", 0.150), ("de", 0.140), ("fr", 0.149),
         ("es", 0.149)]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
N_SOURCES = 20
DIM = 64
N_CENTROIDS = 10


def documents(rng, n):
    lang_p = np.array([w for _, w in LANGS])
    langs = rng.choice(len(LANGS), size=n, p=lang_p / lang_p.sum())
    words = [rng.integers(0, len(VOCAB), size=int(k))
             for k in rng.integers(10, 101, size=n)]
    texts = []
    for i in range(n):
        if i % 640 == 1:
            base = texts[i - 1]
        elif i % 20 == 3:
            base = " ".join(VOCAB[w] for w in words[i - 1]) + " dup"
        else:
            base = " ".join(VOCAB[w] for w in words[i])
        texts.append(base)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[j][0] for j in langs], pa.string()),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng, n):
    centers = rng.standard_normal((N_CENTROIDS, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, N_CENTROIDS, size=n)
    v = 3.0 * centers[labels] + rng.standard_normal((n, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, n * DIM + 1, DIM, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels.astype(np.int32)),
    })


def events(rng, n, n_users):
    start_us = 1704067200 * 1_000_000  # 2024-01-01T00:00:00
    span_us = 30 * 86400 * 1_000_000
    ts = np.sort(start_us + rng.integers(0, span_us, size=n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, size=n, dtype=np.int64)),
        "event_type": pa.array(
            [EVENT_TYPES[j] for j in rng.integers(0, 5, size=n)], pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, size=n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)],
                          pa.string()),
    })


def generate(cache_root, seed, sizes):
    """Write the three tables for `seed` at `sizes` (docs, vecs, events,
    users) under `cache_root` once; return the directory."""
    key = "seed{}-d{docs}-v{vecs}-e{events}-u{users}".format(seed, **sizes)
    out = os.path.join(cache_root, key)
    if os.path.isdir(out):
        return out
    tmp = out + ".partial-{}".format(os.getpid())
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    # one independent stream per table: resizing one leaves the others as-is
    streams = np.random.SeedSequence(seed).spawn(3)
    pq.write_table(documents(np.random.default_rng(streams[0]), sizes["docs"]),
                   os.path.join(tmp, "documents.parquet"))
    pq.write_table(embeddings(np.random.default_rng(streams[1]), sizes["vecs"]),
                   os.path.join(tmp, "embeddings.parquet"))
    pq.write_table(events(np.random.default_rng(streams[2]), sizes["events"],
                          sizes["users"]),
                   os.path.join(tmp, "events.parquet"))
    os.rename(tmp, out)
    return out
