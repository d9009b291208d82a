"""The three benchmark workloads, each a closed loop of one client.

Every workload has the same shape: ``generate`` writes the seeded inputs
(timed apart from set-up), ``setup`` builds the state a user would have
before the first request, and ``step`` is one unit of closed-loop work
whose outputs are checked against numpy / pure-Python references.

End-to-end metrics are named generically so that every workload reports
every one of them (see README.md for what each name means per workload):

- ``primary_p50_ms`` / ``secondary_p50_ms``: the median latency of the
  workload's two operation kinds;
- ``throughput_per_s``: the workload's unit of work per second;
- ``recall``: the workload's answer quality against the exact answer.
"""

from __future__ import annotations

import os
import statistics
import time
import traceback
from types import SimpleNamespace

import numpy as np

import checks
import gen

TOP_K = 10
PANEL = 200
DEDUP_THRESHOLD = 0.5
EMBED_DIM = 64
IVF_CELLS, IVF_NPROBE = 16, 4
FAILED = object()


class Context:
    """What a workload records: per-kind latencies (measured phase only),
    operation counts and failure messages."""

    def __init__(self, tracer, log):
        self.tracer = tracer
        self.log = log
        self.recording = False
        self.lat: dict[str, list[float]] = {}
        self.lat_traced: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0

    def timed(self, kind: str, fn, *args, **kwargs):
        """Run one operation; record its latency while measuring (traced
        and untraced steps apart). An exception counts the operation as
        failed and returns FAILED."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn(*args, **kwargs)
        except Exception:  # noqa: BLE001 - the loop must go on
            self.fail(f"{kind}: {traceback.format_exc()}")
            return FAILED
        if self.recording:
            lat = self.lat_traced if self.tracer.active else self.lat
            lat.setdefault(kind, []).append((time.perf_counter() - t0) * 1e3)
        return out

    def fail(self, msg: str) -> None:
        """Record a failed or wrong operation."""
        self.failed += 1
        self.log(f"FAILED {msg}")

    def check(self, err: str | None, what: str) -> None:
        if err is not None:
            self.fail(f"{what}: {err}")

    def p50(self, kind: str) -> float:
        return statistics.median(self.lat[kind]) if self.lat.get(kind) \
            else float("nan")


def _engine() -> SimpleNamespace:
    """Engine modules, imported late so that ``run.py`` can report a
    missing engine before anything else happens. Calls go through the
    module attributes, which the traced run wraps."""
    from dotnetvectorsearch_spark import api, caching
    from dotnetvectorsearch_spark.embeddings import hashed_projection
    from dotnetvectorsearch_spark.operators import ann, ann_store, dedup
    from dotnetvectorsearch_spark.pipeline import prepare
    from dotnetvectorsearch_spark.sources import io
    return SimpleNamespace(
        api=api, caching=caching, ann=ann, ann_store=ann_store, dedup=dedup,
        prepare=prepare, io=io,
        Embedder=hashed_projection.HashedProjectionEmbedder)


def _read_vectors(path: str) -> tuple[np.ndarray, np.ndarray]:
    import pyarrow.parquet as pq
    t = pq.read_table(path, columns=["id", "embedding"])
    ids = t.column("id").to_numpy()
    emb = t.column("embedding").combine_chunks()
    mat = emb.values.to_numpy(zero_copy_only=False).reshape(len(ids), -1)
    return ids, mat.astype(np.float32)


def median_or_0(xs) -> float:
    """Median of the values, 0 when there are none."""
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _cells(idx, mat: np.ndarray) -> np.ndarray:
    """IVF cell of every row, by the index's own assignment kernel."""
    return type(idx)._assign_cells(idx.centroids, list(mat))


def _probe_ratio(idx, cells: np.ndarray, qvec: np.ndarray) -> float:
    """Share of the rows that live in the cells a query probes."""
    return float(np.isin(cells, idx.probe_cells(qvec.tolist())).mean())


def panel_recall(ctx: Context, idx, rows, ids: np.ndarray, mat: np.ndarray,
                 queries: np.ndarray) -> float:
    """Mean recall@10 of the engine's IVF over a query panel, against the
    exact top-10. ``ivf_topk_panel`` answers the whole panel in one job and
    is row-identical to per-query ``IVFIndex.search``, so the quality
    figure rests on hundreds of queries, not on the few a run times."""
    from dotnetvectorsearch_spark.operators.ann import ivf_topk_panel
    panel = ctx.timed("panel", lambda: ivf_topk_panel(
        rows, idx, [(i, q.tolist()) for i, q in enumerate(queries)],
        k=TOP_K, id_col="id", round_digits=6).collect())
    if panel is FAILED:
        return 0.0
    got: dict[int, list] = {}
    for r in panel:
        got.setdefault(r.qid, []).append((r.rank, r.id, r.similarity))
    recalls, errors = [], []
    for qid, q in enumerate(queries):
        hits = [(i, s) for _, i, s in sorted(got.get(qid, []))]
        sims = checks.cosine_all(mat, q)
        errors.append(checks.check_hits(hits, ids, sims, TOP_K, exact=False))
        recalls.append(checks.recall_at_k(
            [h[0] for h in hits], checks.exact_topk(ids, sims, TOP_K)))
    ctx.check(next((e for e in errors if e), None), "IVF panel")
    return float(np.mean(recalls))


def _footer_rows(path: str) -> int:
    import pyarrow.parquet as pq
    return sum(pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
               for f in os.listdir(path) if f.endswith(".parquet"))


class Workload:
    name = ""
    #: warm-up steps before measuring (see README.md for the curves)
    WARM = 6
    #: the measured phase is a whole number of periods of this many steps
    PERIOD = 1

    def __init__(self, seed: int, tmp: str, scale: float, ctx: Context):
        self.seed, self.tmp, self.scale, self.ctx = seed, tmp, scale, ctx

    def n(self, full: int, least: int = 20) -> int:
        return max(least, int(full * self.scale))

    def generate(self) -> None:
        raise NotImplementedError

    def setup(self, spark) -> None:
        raise NotImplementedError

    def step(self, warm: bool = False) -> None:
        """One unit of closed-loop work; ``warm`` during warm-up."""
        raise NotImplementedError

    def finish(self) -> None:
        """Untimed work after the measured phase."""

    def end_to_end(self) -> dict[str, float]:
        raise NotImplementedError

    def layer_extras(self) -> dict[str, float]:
        """Per-layer figures the benchmark measures itself (not spans)."""
        return {}

    def embed_rows(self) -> dict[str, int]:
        """Rows embedded per span, by the name of the span that embeds."""
        return {}


class Serve(Workload):
    """The reference's search endpoint on a cached, prepared corpus:
    brute and IVF top-10 requests alternate on fresh query texts."""

    name = "serve"
    KINDS = ("brute", "ivf")
    WARM = 3
    N_DOCS = 10_000

    def generate(self) -> None:
        self.corpus = gen.qa_corpus(self.seed, self.n(self.N_DOCS))
        self.csv = os.path.join(self.tmp, "serve.csv")
        gen.write_csv(self.corpus.rows, self.csv)
        self.queries = gen.query_texts(self.seed, self.corpus, 2000)
        self.qi = 0
        self.probe_ratios: list[float] = []

    def setup(self, spark) -> None:
        E = _engine()
        self.emb = E.Embedder(dim=EMBED_DIM)
        docs = os.path.join(self.tmp, "serve_docs")
        E.prepare.run_prepare(spark, self.csv, docs, self.emb)
        self.engine = E.api.VectorSearchEngine(
            spark, spark.read.parquet(docs), self.emb)
        self.engine.health()                    # fills the corpus cache
        self.ids, self.mat = _read_vectors(docs)

    def step(self, warm: bool = False) -> None:
        from dotnetvectorsearch_spark.functions.text import QUERY_PREFIX
        for method in ("brute", "ivf"):
            q = self.queries[self.qi % len(self.queries)]
            self.qi += 1
            with self.ctx.tracer.span("request", method=method):
                res = self.ctx.timed(method, self.engine.search, q,
                                     top_k=TOP_K, method=method)
            if res is FAILED:
                continue
            e = self.emb
            qvec = checks.embed_text(QUERY_PREFIX + q, e.dim, e.vocab_bits,
                                     e.seed)
            sims = checks.cosine_all(self.mat, qvec)
            hits = [(r["id"], r["similarity"]) for r in res["results"]]
            self.ctx.check(checks.check_hits(
                hits, self.ids, sims, TOP_K, exact=method == "brute"),
                f"search {method} {q!r}")
            if method == "ivf":
                self._probe_ratio(qvec)

    def finish(self) -> None:
        from dotnetvectorsearch_spark.functions.text import QUERY_PREFIX
        e = self.emb
        qs = np.stack([checks.embed_text(QUERY_PREFIX + q, e.dim,
                                         e.vocab_bits, e.seed)
                       for q in self.queries[-PANEL:]])
        idx, indexed = self.engine._ann["ivf"]
        self.recall = panel_recall(self.ctx, idx, indexed, self.ids,
                                   self.mat, qs)

    def _probe_ratio(self, qvec) -> None:
        idx = self.engine._ann["ivf"][0]
        if not hasattr(self, "cells"):
            self.cells = _cells(idx, self.mat)
        self.probe_ratios.append(_probe_ratio(idx, self.cells, qvec))

    def end_to_end(self) -> dict[str, float]:
        c = self.ctx
        n_req = len(c.lat.get("brute", [])) + len(c.lat.get("ivf", []))
        busy = sum(c.lat.get("brute", [])) + sum(c.lat.get("ivf", []))
        return {"primary_p50_ms": c.p50("brute"),
                "secondary_p50_ms": c.p50("ivf"),
                "throughput_per_s": n_req / busy * 1e3 if busy else 0.0,
                "recall": self.recall}

    def embed_rows(self) -> dict[str, int]:
        return {"embeddings.query": 1}

    def layer_extras(self) -> dict[str, float]:
        return {"ann.probe_rows_ratio": median_or_0(self.probe_ratios)}


class Ingest(Workload):
    """Prepare + exact Jaccard dedup over a seeded CSV with planted
    exact and near duplicates; each step is one full pass."""

    name = "ingest"
    KINDS = ("prepare", "dedup")
    WARM = 3
    N_BASE, N_EXACT, N_NEAR = 5_000, 150, 150

    def generate(self) -> None:
        self.corpus = gen.qa_corpus(self.seed, self.n(self.N_BASE),
                                    self.n(self.N_EXACT, 2),
                                    self.n(self.N_NEAR, 2))
        self.csv = os.path.join(self.tmp, "ingest.csv")
        gen.write_csv(self.corpus.rows, self.csv)
        self.expected = gen.expected_clusters(self.corpus.texts(),
                                              DEDUP_THRESHOLD)
        self.recalls: list[float] = []
        self.pairs_out: list[int] = []

    def setup(self, spark) -> None:
        E = _engine()
        self.spark = spark
        self.emb = E.Embedder(dim=EMBED_DIM)
        self.docs = os.path.join(self.tmp, "ingest_docs")
        self.kept = os.path.join(self.tmp, "ingest_kept")

    def _dedup(self):
        from pyspark.sql import functions as F
        E = _engine()
        docs = self.spark.read.parquet(self.docs)
        pairs = E.dedup.jaccard_pairs(docs, id_col="id",
                                      text_col="combined_text",
                                      threshold=DEDUP_THRESHOLD)
        clusters = E.dedup.dedup_clusters(docs, pairs, id_col="id")
        kept = docs.join(clusters.filter(F.col("id") == F.col("cluster_id"))
                         .select("id"), "id")
        E.io.write_corpus(kept, self.kept)
        E.caching.release_transient()
        return pairs, clusters

    def step(self, warm: bool = False) -> None:
        from pyspark.sql import functions as F
        E = _engine()
        c = self.ctx
        t0 = time.perf_counter()
        prepared = c.timed("prepare", E.prepare.run_prepare, self.spark,
                           self.csv, self.docs, self.emb)
        out = c.timed("dedup", self._dedup)
        if out is FAILED:
            return
        if c.recording and prepared is not FAILED and not c.tracer.active:
            c.lat.setdefault("pass", []).append(
                (time.perf_counter() - t0) * 1e3)
        pairs, clusters = out
        with c.tracer.span("check"):
            dup_of = {r.id: r.cluster_id for r in clusters.filter(
                F.col("id") != F.col("cluster_id")).collect()}
            if c.tracer.active:
                self.pairs_out.append(pairs.count())
        err, recall = checks.check_clusters(
            dup_of, self.expected, self.corpus.planted, DEDUP_THRESHOLD,
            _footer_rows(self.kept))
        self.recalls.append(recall)
        c.check(err, "dedup")

    def end_to_end(self) -> dict[str, float]:
        c = self.ctx
        n = len(self.corpus.rows)
        return {"primary_p50_ms": c.p50("prepare"),
                "secondary_p50_ms": c.p50("dedup"),
                "throughput_per_s": n / c.p50("pass") * 1e3,
                "recall": float(np.mean(self.recalls)) if self.recalls
                else 0.0}

    def embed_rows(self) -> dict[str, int]:
        # embedding runs fused into the prepare job
        return {"prepare.run": len(self.corpus.rows)}

    def layer_extras(self) -> dict[str, float]:
        return {"dedup.pairs_out": median_or_0(self.pairs_out)}


class Update(Workload):
    """Appends beside reads on the persisted IVF store: each step appends
    a batch and publishes a snapshot, then runs store searches; every
    COMPACT_EVERY appends it compacts and garbage-collects."""

    name = "update"
    KINDS = ("append", "search")
    N_BASE, BATCH, SEARCHES, COMPACT_EVERY = 20_000, 250, 3, 5
    WARM = PERIOD = COMPACT_EVERY

    def generate(self) -> None:
        n = self.n(self.N_BASE)
        self.batch = self.n(self.BATCH, 5)
        self.base = os.path.join(self.tmp, "update_base.parquet")
        self.ids = np.arange(1, n + 1, dtype=np.int64)
        self.mat = gen.clustered_vectors(self.seed, 0, n, EMBED_DIM)
        gen.write_vectors(self.ids, self.mat, self.base)
        self.queries = gen.clustered_vectors(self.seed, 1, 5000, EMBED_DIM)
        self.qi = 0
        self.appended = 0
        self.probe_ratios: list[float] = []
        self.files_per_cell: list[float] = []
        self.bytes_appended = self.bytes_rewritten = 0

    def setup(self, spark) -> None:
        E = _engine()
        self.spark = spark
        self.store = os.path.join(self.tmp, "update_store")
        emb = spark.read.parquet(self.base)
        self.idx = E.ann.IVFIndex(n_cells=IVF_CELLS,
                                  nprobe=IVF_NPROBE).fit(emb)
        self.idx.write(emb, self.store)
        E.ann_store.publish_snapshot(self.store)
        self.n_base = len(self.ids)
        self.cells = _cells(self.idx, self.mat)

    def _new_batch(self) -> str:
        """Write the next generated batch (untimed) and add it to the
        numpy reference."""
        b = self.appended // self.batch
        vecs = gen.clustered_vectors(self.seed, b + 2, self.batch,
                                     EMBED_DIM)
        ids = self.ids[-1] + np.arange(1, self.batch + 1, dtype=np.int64)
        path = os.path.join(self.tmp, f"update_batch_{b}.parquet")
        gen.write_vectors(ids, vecs, path)
        self.ids = np.concatenate([self.ids, ids])
        self.mat = np.concatenate([self.mat, vecs])
        self.cells = np.concatenate([self.cells, _cells(self.idx, vecs)])
        return path

    def _append(self, path: str) -> int:
        E = _engine()
        self.idx.append(self.spark.read.parquet(path), self.store)
        return E.ann_store.publish_snapshot(self.store)

    def _search(self, q):
        E = _engine()
        rows = E.ann_store.read_store_rows(self.spark, self.store)
        return self.idx.search(rows, q.tolist(), TOP_K, id_col="id").collect()

    def _compact(self) -> dict:
        E = _engine()
        E.ann_store.compact_index(self.spark, self.store)
        return E.ann_store.gc_snapshots(self.store)

    def step(self, warm: bool = False) -> None:
        """Warm-up cycles run one search instead of SEARCHES: the code
        paths and the store's compaction state warm up the same, in a
        third of the time."""
        E = _engine()
        c = self.ctx
        before = self._files()
        path = self._new_batch()
        self.appended += self.batch
        if c.timed("append", self._append, path) is not FAILED:
            c.check(checks.check_row_count(
                E.ann_store.snapshot_row_count(self.store),
                self.n_base + self.appended), "append")
        self.bytes_appended += self._bytes(self._files() - before)
        for _ in range(1 if warm else self.SEARCHES):
            q = self.queries[self.qi % len(self.queries)]
            self.qi += 1
            rows = c.timed("search", self._search, q)
            if rows is FAILED:
                continue
            sims = checks.cosine_all(self.mat, q)
            hits = [(r["id"], r["similarity"]) for r in rows]
            c.check(checks.check_hits(hits, self.ids, sims, TOP_K,
                                      exact=False), "store search")
            self.probe_ratios.append(_probe_ratio(self.idx, self.cells, q))
        m = E.ann_store.read_manifest(self.store)
        self.files_per_cell.append(m["n_files"] / IVF_CELLS)
        if (self.appended // self.batch) % self.COMPACT_EVERY == 0:
            before = self._files()
            if c.timed("compact", self._compact) is not FAILED:
                c.check(checks.check_row_count(
                    E.ann_store.snapshot_row_count(self.store),
                    self.n_base + self.appended), "compact")
            self.bytes_rewritten += self._bytes(self._files() - before)

    def finish(self) -> None:
        E = _engine()
        rows = E.ann_store.read_store_rows(self.spark, self.store)
        self.recall = panel_recall(self.ctx, self.idx, rows, self.ids,
                                   self.mat, self.queries[-PANEL:])

    def _files(self) -> set[str]:
        return {os.path.join(d, f) for d, _, fs in os.walk(self.store)
                for f in fs if f.endswith(".parquet")
                and "/cell=" in d + "/"}

    @staticmethod
    def _bytes(files) -> int:
        return sum(os.path.getsize(f) for f in files)

    def end_to_end(self) -> dict[str, float]:
        c = self.ctx
        write_ms = sum(c.lat.get("append", []) + c.lat.get("compact", []))
        rows = len(c.lat.get("append", [])) * self.batch
        return {"primary_p50_ms": c.p50("append"),
                "secondary_p50_ms": c.p50("search"),
                "throughput_per_s": rows / write_ms * 1e3 if write_ms
                else 0.0,
                "recall": self.recall}

    def layer_extras(self) -> dict[str, float]:
        return {
            "ann.probe_rows_ratio": median_or_0(self.probe_ratios),
            "ann_store.files_per_cell": median_or_0(self.files_per_cell),
            "ann_store.bytes_rewritten_per_appended_byte":
                self.bytes_rewritten / self.bytes_appended
                if self.bytes_appended else 0.0,
        }


WORKLOADS = {w.name: w for w in (Serve, Ingest, Update)}
