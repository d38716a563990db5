"""Self-tests of the benchmark itself; they need no Spark session.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import copy
import hashlib
import json
import math
import os
import re

import numpy as np
import pytest

import checks
import inputs
import run

NAME = re.compile(r"[A-Za-z0-9_.-]+")
BENCHMARK_JSON = os.path.join(run.ROOT, "BENCHMARK.json")


def test_metric_names_are_well_formed_and_unique():
    names = [n for n, _, _ in run.per_layer_specs()] + [n for n, _ in run.END_TO_END]
    assert all(NAME.fullmatch(n) for n in names)
    assert len(names) == len(set(names))


def test_benchmark_json_lists_what_the_run_reports():
    with open(BENCHMARK_JSON) as fh:
        spec = json.load(fh)
    assert [m["name"] for m in spec["per_layer"]] == [n for n, _, _ in run.per_layer_specs()]
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert len(spec["per_layer"]) <= 128


def _digests(directory):
    return {
        name: hashlib.sha256(open(os.path.join(directory, name), "rb").read()).hexdigest()
        for name in sorted(os.listdir(directory))
    }


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_fixed_seed_regenerates_identical_inputs(tmp_path, workload):
    inputs.make_inputs(workload, str(tmp_path / "a"), 11)
    inputs.make_inputs(workload, str(tmp_path / "b"), 11)
    inputs.make_inputs(workload, str(tmp_path / "c"), 12)
    a, b, c = (_digests(tmp_path / d) for d in "abc")
    assert a and a == b
    assert a != c


def _rows(lists):
    return [
        {"query_id": q, "neighbor_id": n, "cos_sim": c}
        for q, ns in lists.items()
        for n, c in ns
    ]


def _vector_case():
    rng = np.random.default_rng(0)
    vecs, _ = inputs.clustered_vectors(rng, 300, 8, 5, 0.9)
    ids = rng.permutation(300)
    expected = checks.brute_force_topk(ids, vecs, ids[:20], vecs[:20], checks.TOPK + 1)
    approx = {q: [p for p in ns if p[0] != q][: checks.TOPK - 2] for q, ns in expected.items()}
    truth = {"ids": ids, "expected_topk": expected}
    out = {"exact_rows": _rows(expected), "ivf_rows": _rows(approx), "cluster_sizes": [300]}
    return out, truth


def test_vector_check_passes_on_brute_force_output():
    out, truth = _vector_case()
    state = {}
    assert checks.check_vector_search(out, truth, state) == []
    assert checks.check_vector_search(out, truth, state) == []
    assert state["recall"] == pytest.approx(0.8)


def test_vector_check_fails_on_dropped_neighbour():
    out, truth = _vector_case()
    out["exact_rows"] = out["exact_rows"][1:]
    assert checks.check_vector_search(out, truth, {})


def test_vector_check_fails_on_changed_score():
    out, truth = _vector_case()
    out["exact_rows"][0] = {**out["exact_rows"][0], "cos_sim": out["exact_rows"][0]["cos_sim"] + 1e-6}
    assert checks.check_vector_search(out, truth, {})


def test_vector_check_fails_on_uncovered_corpus():
    out, truth = _vector_case()
    out["cluster_sizes"] = [299]
    assert checks.check_vector_search(out, truth, {})


def test_vector_check_fails_when_recall_moves_between_passes():
    out, truth = _vector_case()
    state = {}
    assert checks.check_vector_search(out, truth, state) == []
    out["ivf_rows"] = out["ivf_rows"][1:]
    assert checks.check_vector_search(out, truth, state)


def _dedup_case():
    groups = [[1, 4, 7], [2, 9]]
    cluster_of = {1: 1, 4: 1, 7: 1, 2: 2, 9: 2}
    cos_pairs = [(1, 4), (1, 7), (4, 7), (2, 9)]
    out = {"cluster_of": cluster_of, "kept": {1: 4, 2: 2}, "cos_pairs": cos_pairs}
    return out, {"groups": groups}


def test_dedup_check_passes_when_groups_are_whole():
    out, truth = _dedup_case()
    assert checks.check_corpus_dedup(out, truth, {}) == []


def test_dedup_check_fails_on_split_group():
    out, truth = _dedup_case()
    out["cluster_of"][7] = 7
    out["kept"][7] = 7
    assert checks.check_corpus_dedup(out, truth, {})


def test_dedup_check_fails_on_missing_keep():
    out, truth = _dedup_case()
    del out["kept"][2]
    assert checks.check_corpus_dedup(out, truth, {})


def test_dedup_check_fails_on_missing_cosine_pair():
    out, truth = _dedup_case()
    out["cos_pairs"] = out["cos_pairs"][1:]
    assert checks.check_corpus_dedup(out, truth, {})


def test_pair_precision():
    assert checks.pair_precision([(1, 4), (4, 7), (3, 5)], [[1, 4, 7]]) == pytest.approx(2 / 3)


def _tstr_case():
    summary = [
        {"generator": g, "avg_predictive_score": 1.5, "std_predictive_score": 0.1}
        for g in ("bootstrap", "gan", "gaussian", "train_on_real")
    ]
    out = {
        "summary": summary,
        "best": "gaussian",
        "univariate": copy.deepcopy(summary),
        "sample": [(0, [1.0, 2.0])],
    }
    return out, {"generators": ("bootstrap", "gaussian", "gan")}


def test_tstr_check_passes_on_repeated_output():
    out, truth = _tstr_case()
    state = {}
    assert checks.check_tstr_eval(out, truth, state) == []
    assert checks.check_tstr_eval(copy.deepcopy(out), truth, state) == []


def test_tstr_check_fails_on_missing_generator_row():
    out, truth = _tstr_case()
    out["summary"] = out["summary"][1:]
    assert checks.check_tstr_eval(out, truth, {})


def test_tstr_check_fails_on_non_finite_mae():
    out, truth = _tstr_case()
    out["univariate"][0]["avg_predictive_score"] = math.nan
    assert checks.check_tstr_eval(out, truth, {})


def test_tstr_check_fails_when_output_changes_between_passes():
    out, truth = _tstr_case()
    state = {}
    assert checks.check_tstr_eval(out, truth, state) == []
    out["sample"] = [(0, [1.0, 2.5])]
    assert checks.check_tstr_eval(out, truth, state)
