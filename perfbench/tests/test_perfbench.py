"""Tests of the benchmark itself, at a tiny size.

    python -m pytest perfbench/tests -q

The check tests feed each output check a deliberately wrong answer; the
end-to-end tests run every workload through ``run.py`` in a subprocess.
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import gen  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ------------------------------------------------------------- generator

def test_generator_is_seeded():
    a = gen.qa_corpus(5, 200, 10, 10)
    b = gen.qa_corpus(5, 200, 10, 10)
    c = gen.qa_corpus(6, 200, 10, 10)
    assert a.rows == b.rows and a.planted == b.planted
    assert a.rows != c.rows
    assert gen.query_texts(5, a, 20) == gen.query_texts(5, b, 20)
    assert np.array_equal(gen.clustered_vectors(5, 0, 50, 8),
                          gen.clustered_vectors(5, 0, 50, 8))


def test_planted_pairs_carry_their_true_jaccard():
    corpus = gen.qa_corpus(1, 300, 20, 40)
    texts = corpus.texts()
    assert len(corpus.planted) == 60
    for a, b, j in corpus.planted:
        assert j == gen.jaccard(gen.shingles(texts[a]), gen.shingles(texts[b]))
    exact = [j for _, _, j in corpus.planted[:20]]
    near = [j for _, _, j in corpus.planted[20:]]
    assert exact == [1.0] * 20
    assert min(near) < 0.5 <= max(near) < 1.0    # both sides of t=0.5


def test_expected_clusters_match_all_pairs_jaccard():
    corpus = gen.qa_corpus(2, 120, 8, 16)
    texts = corpus.texts()
    got = gen.expected_clusters(texts, 0.5)
    sh = {i: gen.shingles(t) for i, t in texts.items()}
    want = {(a, b) for a, b in itertools.combinations(sorted(texts), 2)
            if round(gen.jaccard(sh[a], sh[b]), 6) >= 0.5}
    assert got["pairs"] == want
    for a, b in want:
        assert got["cluster"][a] == got["cluster"][b] == min(
            got["cluster"][a], a, b)


# ---------------------------------------------------------------- checks

def _corpus(n=200, dim=16, seed=3):
    ids = np.arange(100, 100 + n, dtype=np.int64)
    mat = gen.clustered_vectors(seed, 0, n, dim)
    q = gen.clustered_vectors(seed, 1, 1, dim)[0]
    return ids, mat, checks.cosine_all(mat, q)


def _engine_answer(ids, sims, k):
    top = checks.exact_topk(ids, sims, k)
    pos = {int(i): n for n, i in enumerate(ids)}
    return [(i, round(float(sims[pos[i]]), 6)) for i in top]


def test_check_hits_accepts_the_exact_topk():
    ids, _, sims = _corpus()
    hits = _engine_answer(ids, sims, 10)
    assert checks.check_hits(hits, ids, sims, 10, exact=True) is None
    assert checks.check_hits(hits[:7], ids, sims, 10, exact=False) is None


def test_check_hits_rejects_a_permuted_topk():
    ids, _, sims = _corpus()
    hits = _engine_answer(ids, sims, 10)
    swapped = [hits[1], hits[0], *hits[2:]]
    assert "order" in checks.check_hits(swapped, ids, sims, 10, exact=True)
    assert "order" in checks.check_hits(swapped, ids, sims, 10, exact=False)


def test_check_hits_rejects_a_missed_neighbour_and_a_wrong_score():
    ids, _, sims = _corpus()
    hits = _engine_answer(ids, sims, 11)
    missed = hits[:9] + hits[10:11]
    assert "top-10" in checks.check_hits(missed, ids, sims, 10, exact=True)
    bad = [(hits[0][0], hits[0][1] + 1e-4), *hits[1:10]]
    assert "similarity" in checks.check_hits(bad, ids, sims, 10, exact=True)


def test_check_hits_breaks_ties_by_id():
    ids = np.array([7, 3, 5, 1], dtype=np.int64)
    sims = np.array([0.5, 0.9, 0.5, 0.5])
    assert checks.exact_topk(ids, sims, 3) == [3, 1, 5]
    ok = [(3, 0.9), (1, 0.5), (5, 0.5)]
    assert checks.check_hits(ok, ids, sims, 3, exact=True) is None
    assert checks.check_hits([(3, 0.9), (5, 0.5), (1, 0.5)], ids, sims, 3,
                             exact=True) is not None


def test_embed_text_is_unit_norm_and_prefix_sensitive():
    a = checks.embed_text("query: kato miru", 64, 16, 42)
    b = checks.embed_text("passage: kato miru", 64, 16, 42)
    assert abs(np.linalg.norm(a) - 1) < 1e-6
    assert not np.array_equal(a, b)


def _dedup_case():
    corpus = gen.qa_corpus(4, 150, 10, 10)
    expected = gen.expected_clusters(corpus.texts(), 0.5)
    dup_of = {i: c for i, c in expected["cluster"].items() if i != c}
    kept = len(set(expected["cluster"].values()))
    return corpus, expected, dup_of, kept


def test_check_clusters_accepts_the_exact_answer():
    corpus, expected, dup_of, kept = _dedup_case()
    err, recall = checks.check_clusters(dup_of, expected, corpus.planted,
                                        0.5, kept)
    assert err is None and recall == 1.0


def test_check_clusters_rejects_a_dropped_planted_pair():
    corpus, expected, dup_of, kept = _dedup_case()
    a, b, _ = next(p for p in corpus.planted if p[2] >= 0.5)
    split = {i: c for i, c in dup_of.items() if i not in (a, b)}
    err, recall = checks.check_clusters(split, expected, corpus.planted,
                                        0.5, kept + 1)
    assert err is not None and recall < 1.0
    err, _ = checks.check_clusters(split, expected, corpus.planted, 0.5,
                                   kept)
    assert "planted" in err


def test_check_clusters_rejects_a_wrong_kept_count():
    corpus, expected, dup_of, kept = _dedup_case()
    err, _ = checks.check_clusters(dup_of, expected, corpus.planted, 0.5,
                                   kept - 1)
    assert "kept" in err


def test_check_row_count_rejects_a_short_count():
    assert checks.check_row_count(250, 250) is None
    assert "249" in checks.check_row_count(249, 250)


# ------------------------------------------------------------ end to end

def _run(*args, cwd=ROOT, timeout=600):
    return subprocess.run([sys.executable, os.path.join(cwd, "perfbench",
                                                        "run.py"), *args],
                          cwd=cwd, capture_output=True, text=True,
                          timeout=timeout)


@pytest.mark.parametrize("workload,trace", [
    ("serve", "0"), ("ingest", "0"), ("update", "0"), ("ingest", "1")])
def test_workload_runs_end_to_end(workload, trace):
    before = set(os.listdir(ROOT))
    p = _run("--workload", workload, "--seed", "7", "--seconds", "1",
             "--trace", trace, "--scale", "0.02")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, p.stderr
    assert result["attempted"] >= 1
    spec = _spec()["per_layer" if trace == "1" else "end_to_end"]
    assert {m["name"]: m["unit"] for m in spec} == {
        k: v["unit"] for k, v in result["metrics"].items()}
    left = set(os.listdir(ROOT)) - before - {".perfbench_out"}
    assert not left, f"run left {left} behind"


def test_run_without_the_engine_exits_nonzero(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run("--workload", "serve", "--seed", "1", "--seconds", "1",
             "--trace", "0", cwd=str(tmp_path), timeout=120)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
