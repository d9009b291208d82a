"""Seeded input generator for the three benchmark workloads.

Everything the engine sees comes from here: Q&A CSV rows over a Zipf
vocabulary, planted exact and near duplicates with their true word
3-shingle Jaccard, fresh query texts, and vector batches for the IVF
store. The same seed always gives byte-identical inputs.

The pure-Python reference answers the output checks need (expected
dedup clusters, the store's vectors) are computed here too, so a check
never trusts the engine to grade itself.
"""

from __future__ import annotations

import csv
import random
from dataclasses import dataclass, field

import numpy as np

SHINGLE_N = 3


def make_vocab(rng: random.Random, size: int) -> list[str]:
    """``size`` distinct lowercase pseudo-words built from syllables."""
    syl = [c + v for c in "bcdfghjklmnprstvwz" for v in "aeiou"]
    words: set[str] = set()
    out: list[str] = []
    while len(out) < size:
        w = "".join(rng.choice(syl) for _ in range(rng.randint(2, 4)))
        if w not in words:
            words.add(w)
            out.append(w)
    return out


class ZipfWords:
    """Draws words with probability proportional to 1 / rank**s."""

    def __init__(self, rng: random.Random, vocab: list[str], s: float):
        self.rng = rng
        self.vocab = vocab
        w = 1.0 / np.arange(1, len(vocab) + 1) ** s
        self.cum = list(np.cumsum(w / w.sum()))

    def draw(self, n: int) -> list[str]:
        return self.rng.choices(self.vocab, cum_weights=self.cum, k=n)


def shingles(text: str, n: int = SHINGLE_N) -> frozenset[str]:
    """Distinct whitespace-token n-grams — the definition
    ``functions.text.word_shingles`` implements."""
    toks = text.split()
    return frozenset(" ".join(toks[i:i + n])
                     for i in range(len(toks) - n + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    u = len(a | b)
    return len(a & b) / u if u else 0.0


def combined(question: str, answer: str) -> str:
    """The reference's ``"{q} : {a}"`` text (functions.text.combined_text)."""
    return f"{question} : {answer}"


@dataclass
class QACorpus:
    rows: list[tuple[int, str, str]]
    # (source id, copy id, true Jaccard of their combined texts)
    planted: list[tuple[int, int, float]] = field(default_factory=list)

    def texts(self) -> dict[int, str]:
        return {i: combined(q, a) for i, q, a in self.rows}


def qa_corpus(seed: int, n_base: int, n_exact: int = 0,
              n_near: int = 0, vocab_size: int = 8000,
              zipf_s: float = 1.0) -> QACorpus:
    """``n_base`` Q&A rows, then ``n_exact`` exact copies and ``n_near``
    near copies of randomly chosen base rows. A near copy replaces
    1 to 6 answer words, which spreads the planted pairs' true Jaccard on
    both sides of the dedup threshold. Ids are shuffled so copies are not
    adjacent to their sources."""
    rng = random.Random(seed)
    words = ZipfWords(rng, make_vocab(rng, vocab_size), zipf_s)
    rows = []
    for _ in range(n_base):
        q = " ".join(words.draw(rng.randint(6, 12)))
        a = " ".join(words.draw(rng.randint(18, 36)))
        rows.append((q, a))
    copies: list[tuple[int, str, str]] = []
    for k in range(n_exact + n_near):
        src = rng.randrange(n_base)
        q, a = rows[src]
        if k >= n_exact:
            toks = a.split()
            for pos in rng.sample(range(len(toks)), rng.randint(1, 6)):
                toks[pos] = words.draw(1)[0]
            a = " ".join(toks)
        copies.append((src, q, a))
    ids = list(range(1, n_base + len(copies) + 1))
    rng.shuffle(ids)
    out = [(ids[i], q, a) for i, (q, a) in enumerate(rows)]
    planted = []
    for k, (src, q, a) in enumerate(copies):
        cid = ids[n_base + k]
        out.append((cid, q, a))
        j = jaccard(shingles(combined(*rows[src])), shingles(combined(q, a)))
        planted.append((ids[src], cid, j))
    out.sort()
    return QACorpus(out, planted)


def write_csv(rows: list[tuple[int, str, str]], path: str) -> None:
    """The reference Prepare input: ``id,question,answer`` with a header."""
    with open(path, "w", newline="") as f:
        w = csv.writer(f, quoting=csv.QUOTE_MINIMAL)
        w.writerow(["id", "question", "answer"])
        w.writerows(rows)


def query_texts(seed: int, corpus: QACorpus, n: int) -> list[str]:
    """Fresh queries: a few words of a random corpus answer mixed with
    words from a second one, so each query has real but imperfect
    neighbours and never repeats a stored text."""
    rng = random.Random(seed ^ 0x5EED)
    out = []
    for _ in range(n):
        a = rng.choice(corpus.rows)[2].split()
        b = rng.choice(corpus.rows)[2].split()
        toks = rng.sample(a, min(len(a), 5)) + rng.sample(b, min(len(b), 2))
        rng.shuffle(toks)
        out.append(" ".join(toks))
    return out


# ------------------------------------------------------------ dedup oracle

def expected_clusters(texts: dict[int, str], threshold: float) -> dict:
    """Exact all-pairs word-3-shingle Jaccard in pure Python, through a
    shingle inverted index (only pairs sharing a shingle can reach a
    positive threshold). Returns ``{"pairs": set of (a, b) with a < b and
    round(J, 6) >= threshold, "cluster": {id: min id of its component}}``
    — the contract of ``jaccard_pairs`` + ``dedup_clusters``."""
    sh = {i: shingles(t) for i, t in texts.items()}
    inv: dict[str, list[int]] = {}
    for i in sorted(sh):
        for s in sh[i]:
            inv.setdefault(s, []).append(i)
    cand: set[tuple[int, int]] = set()
    for ids in inv.values():
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                cand.add((ids[x], ids[y]))
    pairs = {p for p in cand
             if round(jaccard(sh[p[0]], sh[p[1]]), 6) >= threshold}
    parent = {i: i for i in texts}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {"pairs": pairs, "cluster": {i: find(i) for i in texts}}


# --------------------------------------------------------- vector batches

def clustered_vectors(space: int, seed: int, n: int, dim: int,
                      n_centers: int = 64, spread: float = 0.35
                      ) -> np.ndarray:
    """``n`` unit vectors (drawn with ``seed``) around the ``n_centers``
    directions of vector space ``space`` — the shape an IVF index is built
    for. Base rows, appended batches and queries share one space."""
    centers = np.random.RandomState(space).standard_normal((n_centers, dim))
    rs = np.random.RandomState(seed)
    x = centers[rs.randint(0, n_centers, n)] + \
        spread * rs.standard_normal((n, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return x.astype(np.float32)


def write_vectors(ids: np.ndarray, vecs: np.ndarray, path: str) -> None:
    """One ``(id long, embedding array<float>)`` parquet file."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    emb = pa.FixedSizeListArray.from_arrays(
        pa.array(vecs.reshape(-1), pa.float32()), vecs.shape[1]).cast(
            pa.list_(pa.field("element", pa.float32())))
    pq.write_table(pa.table({"id": pa.array(ids, pa.int64()),
                             "embedding": emb}), path)
