"""Span tracer for the traced benchmark run.

The traced run wraps the public functions of each engine layer (the
``PATCHES`` table) so every call opens a span recording name, start, end
and parent. Each span also becomes the Spark job group of the jobs it
launches, so the status tracker and the status store attribute jobs,
stages, tasks, executor time and shuffle bytes to the span that caused
them. Spans stay in memory and are written out when the run ends.

The untraced run never imports the patches: its timings are the
end-to-end metrics, and the traced-minus-untraced wall time is reported
as the tracing overhead.
"""

from __future__ import annotations

import functools
import itertools
import json
import time
from dataclasses import dataclass, field

# (module path, attribute owner, attribute, span name, span name of the
# action that runs the returned DataFrame, or None)
PATCHES = [
    ("dotnetvectorsearch_spark.api", "VectorSearchEngine", "search",
     "api.search", None),
    ("dotnetvectorsearch_spark.api", "VectorSearchEngine", "_embed_texts",
     "embeddings.query", None),
    ("dotnetvectorsearch_spark.api", None, "top_k_similar",
     "search.top_k_similar", "search.topk"),
    ("dotnetvectorsearch_spark.operators.ann", "IVFIndex", "fit",
     "ann.fit", None),
    ("dotnetvectorsearch_spark.operators.ann", "IVFIndex", "search",
     "ann.search", "ann.topk"),
    ("dotnetvectorsearch_spark.operators.ann", "IVFIndex", "write",
     "ann.write", None),
    ("dotnetvectorsearch_spark.operators.ann", "IVFIndex", "append",
     "ann.append", None),
    ("dotnetvectorsearch_spark.operators.ann_store", None,
     "publish_snapshot", "ann_store.publish", None),
    ("dotnetvectorsearch_spark.operators.ann_store", None,
     "read_store_rows", "ann_store.read_rows", None),
    ("dotnetvectorsearch_spark.operators.ann_store", None,
     "compact_index", "ann_store.compact", None),
    ("dotnetvectorsearch_spark.operators.ann_store", None,
     "gc_snapshots", "ann_store.gc", None),
    ("dotnetvectorsearch_spark.pipeline.prepare", None, "run_prepare",
     "prepare.run", None),
    ("dotnetvectorsearch_spark.pipeline.prepare", None, "write_corpus",
     "io.write_corpus", None),
    ("dotnetvectorsearch_spark.sources.io", None, "write_corpus",
     "io.write_corpus", None),
    ("dotnetvectorsearch_spark.operators.dedup", None, "jaccard_pairs",
     "dedup.jaccard_pairs", None),
    ("dotnetvectorsearch_spark.operators.dedup", None, "dedup_clusters",
     "dedup.clusters", None),
    ("dotnetvectorsearch_spark.caching", None, "release_transient",
     "caching.release_transient", None),
]

LAYERS = ("session", "api", "embeddings", "search", "ann", "ann_store",
          "prepare", "io", "dedup", "caching")

STAGE_FIELDS = ("executorRunTime", "executorCpuTime", "jvmGcTime",
                "shuffleReadBytes", "shuffleWriteBytes")


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    t0: float
    t1: float = 0.0
    attrs: dict = field(default_factory=dict)
    jobs: list[int] = field(default_factory=list)

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1e3


class Tracer:
    """In-memory spans; one Spark job group per span while it is open."""

    def __init__(self):
        self.spans: list[Span] = []
        self.active = True
        self.sc = None
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._undo: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans
    def span(self, name: str, **attrs) -> "_SpanCtx":
        return _SpanCtx(self, name, attrs)

    def _open(self, name: str, attrs: dict) -> Span | None:
        if not self.active:
            return None
        parent = self._stack[-1].id if self._stack else None
        s = Span(next(self._ids), parent, name, time.perf_counter(),
                 attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        return s

    def _close(self, s: Span | None) -> None:
        if s is None:
            return
        s.t1 = time.perf_counter()
        self._stack.pop()
        self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, s: Span | None) -> None:
        if self.sc is None:
            return
        if s is None:
            self.sc._jsc.clearJobGroup()
        else:
            self.sc._jsc.setJobGroup(f"perfbench-span-{s.id}", s.name,
                                     False)

    # ---------------------------------------------------------- patches
    def install(self) -> None:
        """Wrap every function in ``PATCHES``; :meth:`uninstall` undoes it."""
        import importlib
        for mod, owner, attr, name, action in PATCHES:
            m = importlib.import_module(mod)
            target = getattr(m, owner) if owner else m
            orig = getattr(target, attr)
            self._undo.append((target, attr, orig))
            setattr(target, attr, self._wrap(orig, name, action))

    def uninstall(self) -> None:
        while self._undo:
            target, attr, orig = self._undo.pop()
            setattr(target, attr, orig)

    def _wrap(self, fn, name: str, action: str | None):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                out = fn(*args, **kwargs)
            if action is not None and tracer.active:
                tracer._wrap_collect(out, action)
            return out

        return traced

    def _wrap_collect(self, df, name: str) -> None:
        """Give the returned lazy DataFrame a traced ``collect``, so the
        job that runs the layer's plan is timed as that layer, and record
        how many rows its scans read."""
        collect = df.collect

        def traced_collect():
            with self.span(name) as s:
                out = collect()
            if s is not None:
                s.attrs["rows_scanned"] = scanned_rows(df)
            return out

        df.collect = traced_collect

    # ----------------------------------------------------------- census
    def census(self) -> dict[int, dict]:
        """Attach Spark job ids to every span and return per-stage
        metrics keyed by stage id. Call once, after the last action."""
        sc = self.sc
        jsc = sc._jsc.sc()
        try:
            jsc.listenerBus().waitUntilEmpty()
        except Exception:  # noqa: BLE001 - private API drift: best effort
            time.sleep(2.0)
        tracker = sc.statusTracker()
        job_stages: dict[int, list[int]] = {}
        for s in self.spans:
            s.jobs = sorted(tracker.getJobIdsForGroup(
                f"perfbench-span-{s.id}"))
            for j in s.jobs:
                info = tracker.getJobInfo(j)
                job_stages[j] = list(info.stageIds) if info else []
        jvm = sc._jvm
        lst = jsc.statusStore().stageList(
            jvm.java.util.ArrayList(), False, False,
            sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList())
        stages: dict[int, dict] = {}
        for i in range(lst.size()):
            st = lst.apply(i)
            if st.status().toString() == "SKIPPED":
                continue
            d = stages.setdefault(st.stageId(), {"tasks": 0, **{
                f: 0 for f in STAGE_FIELDS}})
            d["tasks"] += st.numCompleteTasks()
            for f in STAGE_FIELDS:
                d[f] += getattr(st, f)()
        self.job_stages = job_stages
        self.stages = stages
        return stages

    # ------------------------------------------------------- analysis
    def children(self) -> dict[int | None, list[Span]]:
        out: dict[int | None, list[Span]] = {}
        for s in self.spans:
            out.setdefault(s.parent, []).append(s)
        return out

    def subtree(self, root: Span, kids=None) -> list[Span]:
        kids = kids if kids is not None else self.children()
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s.id, []))
        return out

    def self_ms(self, s: Span, kids) -> float:
        """Duration minus the time its (sequential) children cover."""
        return s.ms - sum(c.ms for c in kids.get(s.id, []))

    def spark_totals(self, spans: list[Span]) -> dict:
        """Jobs, stages, tasks and summed stage metrics of ``spans``."""
        jobs = sorted({j for s in spans for j in s.jobs})
        stage_ids = sorted({st for j in jobs
                            for st in self.job_stages.get(j, [])
                            if st in self.stages})
        tot = {"jobs": len(jobs), "stages": len(stage_ids), "tasks": 0,
               **{f: 0 for f in STAGE_FIELDS}}
        for st in stage_ids:
            for k, v in self.stages[st].items():
                tot[k] += v
        return tot

    def dump(self, path: str, extra: dict) -> None:
        doc = {"spans": [
            {"id": s.id, "parent": s.parent, "name": s.name,
             "start_s": s.t0, "end_s": s.t1, "attrs": s.attrs,
             "jobs": s.jobs,
             "spark": self.spark_totals([s])} for s in self.spans],
            **extra}
        with open(path, "w") as f:
            json.dump(doc, f, indent=1, default=str)


def scanned_rows(df) -> int:
    """Rows output by the cached-relation and file scans of the plan the
    DataFrame last ran (its SQL metrics); driver-local tables such as a
    query vector do not count. Stage input metrics cannot give this: a
    cached scan reports column batches there, not rows."""
    todo, total = [df._jdf.queryExecution().executedPlan()], 0
    while todo:
        p = todo.pop()
        kind = p.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            todo.append(p.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            todo.append(p.plan())
            continue
        if kind in ("InMemoryTableScanExec", "FileSourceScanExec"):
            m = p.metrics().get("numOutputRows")
            if m.isDefined():
                total += m.get().value()
        kids = p.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return int(total)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.tracer, self.name, self.attrs = tracer, name, attrs
        self.span: Span | None = None

    def __enter__(self) -> Span | None:
        self.span = self.tracer._open(self.name, self.attrs)
        return self.span

    def __exit__(self, *exc) -> None:
        self.tracer._close(self.span)


class NullTracer:
    """Stand-in for the untraced run: spans cost one attribute lookup."""

    active = False

    def span(self, name: str, **attrs):
        return _NULL_CTX


class _NullCtx:
    def __enter__(self):
        return None

    def __exit__(self, *exc):
        return None


_NULL_CTX = _NullCtx()
