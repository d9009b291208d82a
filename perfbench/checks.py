"""Output checks. Each returns an error message, or None when the engine's
answer is right; the workloads count every message as a failed
operation. The references are numpy and pure Python, never the engine.
"""

from __future__ import annotations

import functools
import re
import zlib

import numpy as np

SIM_TOL = 1e-6
# Spark rounds HALF_UP and numpy half-to-even, and float32 sums may
# differ in the last bit: two results within this distance are a tie.
TIE_TOL = 2e-6 + 1e-9

_TOKEN_RE = re.compile(r"\w+", re.UNICODE)


@functools.lru_cache(maxsize=1)
def _projection(dim: int, vocab_bits: int, seed: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return (rng.standard_normal((1 << vocab_bits, dim))
            / np.sqrt(dim)).astype(np.float32)


def embed_text(text: str, dim: int, vocab_bits: int,
               seed: int) -> np.ndarray:
    """The HashedProjectionEmbedder model in numpy: L2-normalized sum of
    log(1 + tf) weighted rows of a seeded projection, indexed by crc32."""
    r = _projection(dim, vocab_bits, seed)
    mask = (1 << vocab_bits) - 1
    toks = _TOKEN_RE.findall(text.lower())
    if not toks:
        return np.zeros(dim, dtype=np.float32)
    idx, counts = np.unique(
        np.fromiter((zlib.crc32(t.encode()) & mask for t in toks),
                    dtype=np.int64), return_counts=True)
    v = (np.log1p(counts)[:, None] * r[idx]).sum(axis=0)
    n = float(np.linalg.norm(v))
    return (v / n).astype(np.float32) if n > 1e-12 else v.astype(np.float32)


def cosine_all(mat: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Cosine of ``q`` against every row, in float64, 0 for zero norms."""
    m = mat.astype(np.float64)
    qq = q.astype(np.float64)
    den = np.linalg.norm(m, axis=1) * np.linalg.norm(qq)
    dot = m @ qq
    return np.where(den == 0, 0.0, dot / np.where(den == 0, 1.0, den))


def exact_topk(ids: np.ndarray, sims: np.ndarray, k: int) -> list[int]:
    """Ids of the exact top-k: similarity (6 digits) desc, then id asc."""
    order = np.lexsort((ids, -np.round(sims, 6)))
    return [int(i) for i in ids[order[:k]]]


def check_hits(hits: list[tuple[int, float]], ids: np.ndarray,
               sims: np.ndarray, k: int, exact: bool) -> str | None:
    """``hits`` as (id, similarity) in the engine's order. Every returned
    similarity must equal the exact cosine of its id, and the list must be
    ordered by similarity desc then id asc. With ``exact`` the ids must
    also be the exact top-k, where only true ties may swap."""
    pos = {int(i): n for n, i in enumerate(ids)}
    if len({h[0] for h in hits}) != len(hits):
        return "duplicate ids in result"
    for i, s in hits:
        if i not in pos:
            return f"unknown id {i}"
        if abs(s - sims[pos[i]]) > SIM_TOL + 1e-9:
            return f"id {i}: similarity {s} != exact {sims[pos[i]]:.7f}"
    for (i1, s1), (i2, s2) in zip(hits, hits[1:]):
        if (s1, -i1) < (s2, -i2):
            return f"order: ({i1}, {s1}) before ({i2}, {s2})"
    if not exact:
        return None
    want = exact_topk(ids, sims, k)
    got = [h[0] for h in hits]
    if got == want:
        return None
    if len(got) != len(want):
        return f"{len(got)} results, expected {len(want)}"
    kth = sims[pos[want[-1]]]
    lowest = min(sims[pos[i]] for i in got)
    if all(sims[pos[i]] >= kth - TIE_TOL for i in got) and all(
            sims[pos[i]] <= lowest + TIE_TOL for i in set(want) - set(got)):
        return None
    return f"top-{k} ids {got} != exact {want}"


def recall_at_k(got: list[int], want: list[int]) -> float:
    return len(set(got) & set(want)) / len(want)


def check_clusters(dup_of: dict[int, int], expected: dict,
                   planted: list[tuple[int, int, float]], threshold: float,
                   kept: int) -> tuple[str | None, float]:
    """``dup_of`` maps every id the engine did NOT keep to its cluster id.
    Returns (error or None, planted recall): the engine's clusters must
    equal the exact ones, every planted pair at or over the threshold
    must share a cluster, and ``kept`` must equal the cluster count."""
    cl = expected["cluster"]
    want = {i: c for i, c in cl.items() if i != c}
    over = [(a, b) for a, b, j in planted if round(j, 6) >= threshold]
    found = sum(dup_of.get(a, a) == dup_of.get(b, b) for a, b in over)
    recall = found / len(over) if over else 1.0
    n_clusters = len(set(cl.values()))
    if kept != n_clusters:
        return f"kept {kept} docs, exact Jaccard keeps {n_clusters}", recall
    if found != len(over):
        return f"{len(over) - found} planted pairs split", recall
    if dup_of != want:
        diff = sorted(set(dup_of.items()) ^ set(want.items()))[:5]
        return f"clusters differ from exact Jaccard, e.g. {diff}", recall
    return None, recall


def check_row_count(got: int, want: int) -> str | None:
    return None if got == want else f"snapshot has {got} rows, want {want}"
