"""Benchmark entry point.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from ``--seed``, sets the engine up,
warms it until steady, then runs the workload's closed loop for
``--seconds`` and checks every answer. The last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. Progress and failures go to standard error.

Everything the run writes stays inside the checkout: scratch data,
index roots, the Spark warehouse and local dirs live under
``.perfbench_tmp/`` and are removed at exit; a traced run leaves its
spans in ``.perfbench_out/``. The run exits with 2, printing no result,
when the engine package is not next to this directory.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

from spans import LAYERS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E = {"setup_s": "s", "success_rate": "ratio", "recall": "ratio",
       "primary_p50_ms": "ms", "secondary_p50_ms": "ms",
       "throughput_per_s": "1/s"}

PER_LAYER = {
    "peak_rss_mb": "MB", "primary_p90_ms": "ms", "secondary_p90_ms": "ms",
    "trace.overhead_ms": "ms", "trace.overhead_pct": "%",
    "session.start_ms": "ms",
    "api.jobs_per_search_brute": "count", "api.jobs_per_search_ivf": "count",
    "embeddings.query_ms": "ms", "embeddings.rows_per_s": "1/s",
    "search.topk_ms": "ms", "search.rows_scanned": "count",
    "ann.fit_ms": "ms", "ann.search_ms": "ms", "ann.rows_scanned": "count",
    "ann.probe_rows_ratio": "ratio",
    "ann.append_ms": "ms",
    "ann_store.publish_ms": "ms", "ann_store.read_rows_ms": "ms",
    "ann_store.files_per_cell": "count",
    "ann_store.bytes_rewritten_per_appended_byte": "ratio",
    "ann_store.compact_ms": "ms", "ann_store.gc_ms": "ms",
    "prepare.ms": "ms", "prepare.jobs": "count", "io.write_ms": "ms",
    "dedup.jaccard_ms": "ms", "dedup.cc_ms": "ms", "dedup.pairs_out": "count",
    "dedup.shuffle_write_bytes": "bytes", "dedup.jobs": "count",
    "caching.release_ms": "ms",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_ms": "ms", "spark.executor_cpu_ms": "ms",
    "spark.gc_ms": "ms", "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
}

PER_LAYER.update({f"{layer}.self_ms": "ms" for layer in LAYERS})

TMP_DIR = ".perfbench_tmp"
OUT_DIR = ".perfbench_out"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- processes

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(p))
    return kids


def descendants(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class PeakRss:
    """Summed peak RSS (VmHWM) of this process and all its descendants:
    the driver, the JVM and the Python workers. Sampled at phase ends;
    each process keeps the highest mark seen."""

    def __init__(self):
        self.kb: dict[int, int] = {}

    def sample(self) -> None:
        for pid in [os.getpid(), *descendants(os.getpid())]:
            try:
                with open(f"/proc/{pid}/status") as f:
                    hwm = next((int(line.split()[1]) for line in f
                                if line.startswith("VmHWM:")), 0)
            except (OSError, ValueError):
                continue
            self.kb[pid] = max(self.kb.get(pid, 0), hwm)

    def mb(self) -> float:
        return sum(self.kb.values()) / 1024


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark() -> None:
    """Stop the session, end the JVM and wait until every process this
    run started (the JVM, the Python daemon and workers) has exited."""
    from pyspark import SparkContext
    pids = descendants(os.getpid())
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()          # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - escalate below
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
    while any(_alive(p) for p in pids):
        time.sleep(0.1)


# --------------------------------------------------------------- the run

def hermetic_env(tmp: str) -> None:
    """Point every place Spark and the engine write to inside ``tmp``."""
    d = {k: os.path.join(tmp, k)
         for k in ("local", "warehouse", "index", "tmp", "jvmtmp")}
    for p in d.values():
        os.makedirs(p)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_INDEX_ROOT": d["index"],
        "SPARK_LOCAL_DIRS": d["local"],
        "TMPDIR": d["tmp"],
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS":
            f"--conf spark.sql.warehouse.dir={d['warehouse']} "
            "--conf spark.ui.showConsoleProgress=false "
            f"--driver-java-options -Djava.io.tmpdir={d['jvmtmp']} "
            "pyspark-shell",
    })
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    tempfile.tempdir = d["tmp"]


def run(args, tmp: str) -> dict:
    from spans import NullTracer, Tracer
    from workloads import WORKLOADS, Context

    tracer = Tracer() if args.trace else NullTracer()
    ctx = Context(tracer, log)
    wl = WORKLOADS[args.workload](args.seed, tmp, args.scale, ctx)
    t = time.perf_counter()
    wl.generate()
    log(f"{args.workload}: inputs generated in "
        f"{time.perf_counter() - t:.2f} s (not part of setup_s)")
    if args.trace:
        tracer.install()
    rss = PeakRss()

    from dotnetvectorsearch_spark import session
    t0 = time.perf_counter()
    with tracer.span("setup"):
        with tracer.span("session.start"):
            spark = session.get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        if args.trace:
            tracer.sc = spark.sparkContext
        wl.setup(spark)
        walls: list[float] = []
        for _ in range(wl.WARM):
            t = time.perf_counter()
            with tracer.span("step"):
                wl.step(warm=True)
            walls.append(time.perf_counter() - t)
    setup_s = time.perf_counter() - t0
    log(f"{args.workload}: setup {setup_s:.2f} s, warm-up steps "
        f"{[round(w, 3) for w in walls]}")
    rss.sample()

    # Measure whole periods (a traced run alternates traced and untraced
    # steps, so its periods are twice as long) and stop at the period
    # boundary nearest to --seconds.
    period = wl.PERIOD * (2 if args.trace else 1)
    ctx.recording = True
    t_run = time.perf_counter()
    t_period, i = t_run, 0
    while True:
        tracer.active = bool(args.trace) and i % 2 == 0
        with tracer.span("step", measured=True):
            wl.step()
        i += 1
        if i % period == 0:
            now = time.perf_counter()
            if now - t_run + (now - t_period) / 2 >= args.seconds:
                break
            t_period = now
    ctx.recording = False
    tracer.active = bool(args.trace)
    rss.sample()
    with tracer.span("check"):
        wl.finish()
    log(f"{args.workload}: {i} steps in {time.perf_counter() - t_run:.2f} s")

    e2e = {"setup_s": setup_s,
           "success_rate": 1 - ctx.failed / max(ctx.attempted, 1),
           **wl.end_to_end()}
    out = {"correct": ctx.failed == 0 and all(
               math.isfinite(v) for v in e2e.values()),
           "attempted": ctx.attempted, "failed": ctx.failed}
    if not args.trace:
        out["metrics"] = {k: {"value": e2e[k], "unit": u}
                          for k, u in E2E.items()}
        return out
    tracer.census()
    tracer.uninstall()
    layers = layer_metrics(tracer, wl, ctx)
    layers["peak_rss_mb"] = rss.mb()
    os.makedirs(os.path.join(ROOT, OUT_DIR), exist_ok=True)
    path = os.path.join(ROOT, OUT_DIR,
                        f"trace-{args.workload}-seed{args.seed}.json")
    tracer.dump(path, {"workload": args.workload, "seed": args.seed,
                       "end_to_end_untraced_steps": e2e,
                       "per_layer": layers})
    log(f"{args.workload}: spans written to {path}")
    out["metrics"] = {k: {"value": layers[k], "unit": u}
                      for k, u in PER_LAYER.items()}
    return out


def _p90(xs) -> float:
    if len(xs) < 2:
        return float(xs[0]) if xs else 0.0
    return float(statistics.quantiles(xs, n=10)[-1])


def layer_metrics(tracer, wl, ctx) -> dict[str, float]:
    """Per-layer figures from the measured traced steps (medians per
    span or per step), set-up spans, and the workload's own counters."""
    from workloads import median_or_0
    kids = tracer.children()
    spans_of: dict[str, list] = {}
    per_step: list[dict] = []
    for step in (s for s in tracer.spans
                 if s.name == "step" and s.attrs.get("measured")):
        todo, mine = [step], []
        while todo:                          # subtree minus the checks
            s = todo.pop()
            mine.append(s)
            todo.extend(c for c in kids.get(s.id, []) if c.name != "check")
        for s in mine:
            spans_of.setdefault(s.name, []).append(s)
        layer_self = {layer: 0.0 for layer in LAYERS}
        for s in mine:
            if s.name.split(".")[0] in layer_self:
                layer_self[s.name.split(".")[0]] += tracer.self_ms(s, kids)
        dedup = [x for s in mine if s.name.startswith("dedup.")
                 for x in tracer.subtree(s, kids)]
        per_step.append({
            "spark": tracer.spark_totals(mine),
            "dedup": tracer.spark_totals(dedup),
            "io_ms": sum(s.ms for s in mine if s.name == "io.write_corpus"),
            "self": layer_self})

    def ms(name):
        return median_or_0(s.ms for s in spans_of.get(name, []))

    def step_med(f):
        return median_or_0(f(p) for p in per_step)

    def jobs_of(name, **attrs):
        return median_or_0(tracer.spark_totals(tracer.subtree(s, kids))["jobs"]
                    for s in spans_of.get(name, [])
                    if all(s.attrs.get(k) == v for k, v in attrs.items()))

    setup = [s for s in tracer.spans if s.name in ("session.start", "ann.fit")
             and not any(s in v for v in spans_of.values())]
    embed_rows = wl.embed_rows()
    embed_ms = sum(s.ms for n in embed_rows for s in spans_of.get(n, []))
    n_embedded = sum(r * len(spans_of.get(n, []))
                     for n, r in embed_rows.items())
    ann_ms = sum(s.ms for n in ("ann.search", "ann.topk")
                 for s in spans_of.get(n, []))
    n_ann = len(spans_of.get("ann.search", []))
    # the same operations, traced and untraced, in alternate steps
    kinds = list(wl.KINDS)
    untraced = sum(median_or_0(ctx.lat.get(k, [])) for k in kinds)
    traced = sum(median_or_0(ctx.lat_traced.get(k, [])) for k in kinds)
    m = {
        "primary_p90_ms": _p90(ctx.lat.get(kinds[0], [])),
        "secondary_p90_ms": _p90(ctx.lat.get(kinds[1], [])),
        "trace.overhead_ms": traced - untraced,
        "trace.overhead_pct": (traced - untraced) / untraced * 100
        if untraced else 0.0,
        "session.start_ms": sum(s.ms for s in setup
                                if s.name == "session.start"),
        "ann.fit_ms": sum(s.ms for s in setup if s.name == "ann.fit"),
        "api.jobs_per_search_brute": jobs_of("request", method="brute"),
        "api.jobs_per_search_ivf": jobs_of("request", method="ivf"),
        "embeddings.query_ms": ms("embeddings.query"),
        "embeddings.rows_per_s": n_embedded / embed_ms * 1e3
        if embed_ms else 0.0,
        "search.topk_ms": ms("search.topk"),
        "search.rows_scanned": median_or_0(s.attrs.get("rows_scanned", 0)
                                    for s in spans_of.get("search.topk", [])),
        "ann.search_ms": ann_ms / n_ann if n_ann else 0.0,
        "ann.rows_scanned": median_or_0(s.attrs.get("rows_scanned", 0)
                                 for s in spans_of.get("ann.topk", [])),
        "ann.probe_rows_ratio": 0.0,
        "ann.append_ms": ms("ann.append"),
        "ann_store.publish_ms": ms("ann_store.publish"),
        "ann_store.read_rows_ms": ms("ann_store.read_rows"),
        "ann_store.files_per_cell": 0.0,
        "ann_store.bytes_rewritten_per_appended_byte": 0.0,
        "ann_store.compact_ms": ms("ann_store.compact"),
        "ann_store.gc_ms": ms("ann_store.gc"),
        "prepare.ms": ms("prepare.run"),
        "prepare.jobs": jobs_of("prepare.run"),
        "io.write_ms": step_med(lambda p: p["io_ms"]),
        "dedup.jaccard_ms": ms("dedup.jaccard_pairs"),
        "dedup.cc_ms": ms("dedup.clusters"),
        "dedup.pairs_out": 0.0,
        "dedup.shuffle_write_bytes": step_med(
            lambda p: p["dedup"]["shuffleWriteBytes"]),
        "dedup.jobs": step_med(lambda p: p["dedup"]["jobs"]),
        "caching.release_ms": ms("caching.release_transient"),
        "spark.jobs": step_med(lambda p: p["spark"]["jobs"]),
        "spark.stages": step_med(lambda p: p["spark"]["stages"]),
        "spark.tasks": step_med(lambda p: p["spark"]["tasks"]),
        "spark.executor_run_ms": step_med(
            lambda p: p["spark"]["executorRunTime"]),
        "spark.executor_cpu_ms": step_med(
            lambda p: p["spark"]["executorCpuTime"] / 1e6),
        "spark.gc_ms": step_med(lambda p: p["spark"]["jvmGcTime"]),
        "spark.shuffle_read_bytes": step_med(
            lambda p: p["spark"]["shuffleReadBytes"]),
        "spark.shuffle_write_bytes": step_med(
            lambda p: p["spark"]["shuffleWriteBytes"]),
    }
    for layer in LAYERS:
        m[f"{layer}.self_ms"] = step_med(lambda p: p["self"][layer])
    m.update(wl.layer_extras())
    return m


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("serve", "ingest", "update"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input-size multiplier (tests run at tiny scale)")
    args = p.parse_args(argv)

    sys.path.insert(1, ROOT)
    try:
        import dotnetvectorsearch_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        log(f"cannot import the engine from {ROOT}: {e}")
        return 2

    tmp = os.path.join(ROOT, TMP_DIR,
                       f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(tmp)
    try:
        hermetic_env(tmp)
        result = run(args, tmp)
    finally:
        stop_spark()
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.join(ROOT, TMP_DIR))
        except OSError:
            pass
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
