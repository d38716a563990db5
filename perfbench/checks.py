"""Correctness checks. Each takes a pass's collected outputs plus the
ground truth the input generator returned, and recomputes what it can
outside the program: a numpy brute-force top-k, the planted duplicate
groups, the scorer's summary shape. Each returns a list of problems;
an empty list is a pass."""

from __future__ import annotations

import hashlib
import json
import math

import numpy as np

TOPK = 10


def round_half_up(a, decimals: int = 6):
    scale = 10.0**decimals
    return np.sign(a) * np.floor(np.abs(a) * scale + 0.5) / scale


def brute_force_topk(corpus_ids, corpus_vecs, probe_ids, probe_vecs, k: int):
    """Exact cosine top-k per probe, cos_sim rounded half-up to 6
    places, ties broken by neighbour id: the documented ``cosine_topk``
    contract, computed in float64 on the driver."""
    c = corpus_vecs.astype(np.float64)
    q = probe_vecs.astype(np.float64)
    sims = round_half_up(
        (q @ c.T) / np.outer(np.linalg.norm(q, axis=1), np.linalg.norm(c, axis=1))
    )
    out = {}
    for i, qid in enumerate(probe_ids):
        order = np.lexsort((corpus_ids, -sims[i]))[:k]
        out[int(qid)] = [(int(corpus_ids[j]), float(sims[i, j])) for j in order]
    return out


def check_topk(got: dict, expected: dict) -> list[str]:
    problems = []
    if set(got) != set(expected):
        problems.append(f"top-k covers {len(got)} probes, expected {len(expected)}")
    for qid, want in expected.items():
        have = got.get(qid, [])
        if [n for n, _ in have] != [n for n, _ in want] or any(
            abs(a - b) > 1e-9 for (_, a), (_, b) in zip(have, want)
        ):
            problems.append(f"probe {qid}: top-k differs from brute force")
            break
    return problems


def topk_lists(rows) -> dict:
    """{query id: [(neighbour id, cos_sim), ...]} in rank order."""
    out: dict = {}
    for r in rows:
        out.setdefault(int(r["query_id"]), []).append(
            (int(r["neighbor_id"]), float(r["cos_sim"]))
        )
    return {q: sorted(ns, key=lambda p: (-p[1], p[0])) for q, ns in out.items()}


def recall(approx: dict, exact: dict) -> float:
    hits = sum(len({n for n, _ in approx.get(q, [])} & {n for n, _ in ns}) for q, ns in exact.items())
    return hits / max(1, sum(len(ns) for ns in exact.values()))


def check_vector_search(out: dict, truth: dict, state: dict) -> list[str]:
    """``out`` holds the exact top-(k+1) rows (each probe is a corpus row,
    so it comes first) and the IVF top-k rows of the probes. The IVF
    recall is kept in ``state["recall"]``."""
    exact = topk_lists(out["exact_rows"])
    problems = check_topk(exact, truth["expected_topk"])
    if sum(out["cluster_sizes"]) != len(truth["ids"]):
        problems.append("k-means assignment does not cover the corpus")
    without_self = {q: [p for p in ns if p[0] != q][:TOPK] for q, ns in exact.items()}
    r = recall(topk_lists(out["ivf_rows"]), without_self)
    first = state.setdefault("recall", r)
    if r != first:
        problems.append(f"ivf recall {r} differs from first pass {first}")
    return problems


def planted_pairs(groups) -> set[tuple[int, int]]:
    return {(a, b) for g in groups for i, a in enumerate(g) for b in g[i + 1 :]}


def check_corpus_dedup(out: dict, truth: dict, state: dict) -> list[str]:
    problems = []
    # Copies' embeddings sit within cos ~0.99 of their base and random
    # 64-d vectors far below 0.9, so the cosine pairs are exactly the
    # planted pairs.
    if set(out["cos_pairs"]) != planted_pairs(truth["groups"]):
        problems.append("cosine pairs differ from the planted duplicate pairs")
    rep = out["cluster_of"]
    for group in truth["groups"]:
        reps = {rep.get(d) for d in group}
        if len(reps) != 1 or None in reps:
            problems.append(f"planted group {group} split across clusters {sorted(map(str, reps))}")
            break
    kept = out["kept"]
    if len(kept) != len(set(rep.values())):
        problems.append(f"{len(kept)} kept documents for {len(set(rep.values()))} clusters")
    if any(rep.get(doc) != cluster for cluster, doc in kept.items()):
        problems.append("a kept document is not in its cluster")
    return problems


def pair_precision(pairs, groups) -> float:
    """Share of candidate pairs that are planted duplicate pairs."""
    planted = planted_pairs(groups)
    return sum(1 for p in pairs if tuple(p) in planted) / max(1, len(pairs))


def output_hash(obj) -> str:
    return hashlib.sha256(json.dumps(obj, sort_keys=True).encode()).hexdigest()


def check_tstr_eval(out: dict, truth: dict, state: dict) -> list[str]:
    problems = []
    names = sorted(r["generator"] for r in out["summary"])
    expected = sorted(list(truth["generators"]) + ["train_on_real"])
    if names != expected:
        problems.append(f"summary rows {names}, expected {expected}")
    for rows in (out["summary"], out["univariate"]):
        for r in rows:
            for key, v in r.items():
                if key.startswith(("avg_", "std_")) and (v is None or not math.isfinite(v)):
                    problems.append(f"{r['generator']}: {key} is {v}")
    if out["best"] not in truth["generators"]:
        problems.append(f"best generator {out['best']!r} is not a candidate")
    if not out["sample"]:
        problems.append("winning generator produced no sequences")
    digest = output_hash(out)
    first = state.setdefault("hash", digest)
    if digest != first:
        problems.append("output hash differs from the first pass")
    return problems


CHECKS = {
    "tstr_eval": check_tstr_eval,
    "vector_search": check_vector_search,
    "corpus_dedup": check_corpus_dedup,
}
