"""Seeded input generators for the three benchmark workloads.

Every table is a pure function of the seed: numpy's PCG64 stream drives
every draw and pyarrow writes the parquet, so one seed gives
byte-identical files. Each generator returns the ground truth its
workload's correctness check needs (planted groups, probe ids), which
the program under test never sees.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
STOPWORDS = ("the", "of", "and", "to", "in", "is", "a", "for", "on", "with")
SYLLABLES = tuple(c + v for c in "bdfgklmnprstvz" for v in "aeiou")

# Workload sizes. Each is fixed here, not by a flag, so two commits
# measured with the same benchmark files see the same inputs.
EVENT_USERS = 100
EVENT_DAYS = 30
VEC_ROWS = 4_000
VEC_DIM = 64
VEC_CLUSTERS = 40
VEC_PROBES = 1_000
DOC_BASE = 2_000
DOC_GROUPS = 100
DOC_VOCAB = 3_000
DOC_DIM = 64


def _write(table: pa.Table, work_dir: str, name: str) -> None:
    os.makedirs(work_dir, exist_ok=True)
    pq.write_table(table, os.path.join(work_dir, f"{name}.parquet"))


def make_events(work_dir: str, seed: int) -> dict:
    """Long-format events shaped like the sf0.1 ``events`` table:
    sub-daily rows per user over ``EVENT_DAYS`` days, with NULL values,
    duplicate (user, ts) keys, missing days, and users whose first and
    last days differ from the global range (FIXTURES.md F-1)."""
    rng = np.random.default_rng([seed, 1])
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    users, ts, values = [], [], []
    for u in range(EVENT_USERS):
        first = int(rng.integers(0, 4))
        last = EVENT_DAYS - int(rng.integers(0, 4))
        base = rng.uniform(20.0, 120.0)
        amp = rng.uniform(2.0, 15.0)
        for day in range(first, last):
            if day not in (first, last - 1) and rng.random() < 0.08:
                continue  # interior gap
            for _ in range(int(rng.integers(1, 3))):
                sec = int(rng.integers(0, 86_400))
                users.append(u)
                ts.append(t0 + np.timedelta64(day * 86_400 + sec, "s"))
                v = base + amp * np.sin(2 * np.pi * (day % 7) / 7) + rng.normal(0, 3)
                values.append(round(float(v), 2))
    n = len(users)
    users = np.array(users, dtype=np.int64)
    ts = np.array(ts, dtype="datetime64[us]")
    values = np.array(values, dtype=np.float64)
    nulls = rng.random(n) < 0.02
    dup = np.nonzero(rng.random(n) < 0.01)[0]
    users = np.concatenate([users, users[dup]])
    ts = np.concatenate([ts, ts[dup]])
    values = np.concatenate([values, np.round(values[dup] + 1.0, 2)])
    nulls = np.concatenate([nulls, np.zeros(len(dup), dtype=bool)])
    order = np.lexsort((users, ts))
    m = len(order)
    kinds = rng.integers(0, len(EVENT_TYPES), m)
    table = pa.table(
        {
            "event_id": pa.array(np.arange(m, dtype=np.int64)),
            "ts": pa.array(ts[order], type=pa.timestamp("us")),
            "user_id": pa.array(users[order]),
            "event_type": pa.array([EVENT_TYPES[k] for k in kinds]),
            "value": pa.array(values[order], mask=nulls[order]),
            "props": pa.array([f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, m)]),
        }
    )
    _write(table, work_dir, "events")
    return {"rows": m, "users": EVENT_USERS}


def clustered_vectors(rng, rows: int, dim: int, clusters: int, spread: float):
    centers = rng.normal(size=(clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, clusters, rows)
    vecs = centers[labels] + spread * rng.normal(size=(rows, dim)) / np.sqrt(dim)
    return vecs.astype(np.float32), labels.astype(np.int32)


def _vector_table(ids, vecs, labels) -> pa.Table:
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, vecs.size + 1, vecs.shape[1], dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(ids.astype(np.int64)),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(labels),
        }
    )


def make_vectors(work_dir: str, seed: int) -> dict:
    """A clustered corpus shaped like the sf0.1 ``embeddings`` table and
    a probe table: a seeded sample of corpus rows, ids kept."""
    rng = np.random.default_rng([seed, 2])
    vecs, labels = clustered_vectors(rng, VEC_ROWS, VEC_DIM, VEC_CLUSTERS, 0.9)
    ids = rng.permutation(VEC_ROWS).astype(np.int64)
    probe_rows = np.sort(rng.choice(VEC_ROWS, VEC_PROBES, replace=False))
    _write(_vector_table(ids, vecs, labels), work_dir, "vectors")
    _write(
        _vector_table(ids[probe_rows], vecs[probe_rows], labels[probe_rows]),
        work_dir,
        "probes",
    )
    return {
        "ids": ids,
        "vecs": vecs,
        "probe_ids": ids[probe_rows],
        "probe_vecs": vecs[probe_rows],
    }


def _vocabulary(rng) -> list[str]:
    words = set()
    while len(words) < DOC_VOCAB:
        n = int(rng.integers(2, 5))
        words.add("".join(SYLLABLES[i] for i in rng.integers(0, len(SYLLABLES), n)))
    return sorted(words)


def make_documents(work_dir: str, seed: int) -> dict:
    """A corpus shaped like the sf0.1 ``documents`` table plus an
    ``embeddings`` table for the same ids. ``DOC_GROUPS`` base documents
    get one to three near copies (a few words swapped, the embedding
    nudged), which are the planted duplicate groups."""
    rng = np.random.default_rng([seed, 3])
    vocab = np.array(list(STOPWORDS) + _vocabulary(rng))
    # Zipf-like word frequencies: a few common words, a long tail
    weights = 1.0 / np.arange(1, len(vocab) + 1) ** 1.05
    weights /= weights.sum()
    texts = [
        rng.choice(vocab, int(rng.integers(20, 120)), p=weights)
        for _ in range(DOC_BASE)
    ]
    emb = list(rng.normal(size=(DOC_BASE, DOC_DIM)))
    bases = rng.choice(DOC_BASE, DOC_GROUPS, replace=False)
    group_of = [-1] * DOC_BASE
    for g, b in enumerate(bases):
        group_of[b] = g
        for _ in range(int(rng.integers(1, 4))):
            words = texts[b].copy()
            swap = rng.choice(len(words), max(1, len(words) // 30), replace=False)
            words[swap] = rng.choice(vocab, len(swap), p=weights)
            texts.append(words)
            emb.append(emb[b] + 0.1 * rng.normal(size=DOC_DIM))
            group_of.append(g)
    n = len(texts)
    order = rng.permutation(n)  # doc ids do not reveal groups
    doc_ids = np.empty(n, dtype=np.int64)
    doc_ids[order] = np.arange(n, dtype=np.int64)
    strings = [" ".join(texts[i]) for i in order]
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(strings),
            "lang": pa.array([("en", "de", "zh")[k] for k in rng.integers(0, 3, n)]),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 5, n)]),
            "n_chars": pa.array(np.array([len(s) for s in strings], dtype=np.int64)),
        }
    )
    _write(docs, work_dir, "documents")
    vec = np.array(emb)[order].astype(np.float32)
    _write(
        _vector_table(np.arange(n), vec, np.zeros(n, dtype=np.int32)),
        work_dir,
        "embeddings",
    )
    groups: dict[int, list[int]] = {}
    for i, g in enumerate(group_of):
        if g >= 0:
            groups.setdefault(g, []).append(int(doc_ids[i]))
    return {"docs": n, "groups": sorted(sorted(m) for m in groups.values())}


MAKERS = {
    "tstr_eval": make_events,
    "vector_search": make_vectors,
    "corpus_dedup": make_documents,
}


def make_inputs(workload: str, work_dir: str, seed: int) -> dict:
    return MAKERS[workload](work_dir, seed)
