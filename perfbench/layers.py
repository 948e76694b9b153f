"""Layer accounting from outside the package: an in-memory span recorder,
the kernel layers timed around the package's public functions, the Spark
stage prefixes, the event-log counters and the process-tree RSS sampler.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

import numpy as np

KERNEL_LAYERS = (
    "bbox", "edges", "node_feat", "edge_feat", "gnn", "decode", "assemble",
    "img_decode", "crop", "cnn", "visual_forward",
)
STAGES = (
    "scan", "explode", "strip", "kernel_input", "kernel_stage", "fanout_join",
    "reassembly",
)


class Tracer:
    """Spans (id, name, start, end, parent) kept in memory until exit.
    Disabled, ``span`` records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list = []
        self._stack: list = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def totals(self, prefix: str = "") -> dict:
        """{name: summed self time} — a span's duration minus the part its
        direct children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict = {}
        for s in self.spans:
            if s["name"].startswith(prefix):
                dur = s["end"] - s["start"] - child[s["id"]]
                out[s["name"]] = out.get(s["name"], 0.0) + dur
        return out



# ------------------------------------------------------------ process RSS
def _procs() -> dict:
    """{pid: (ppid, rss bytes)} for every live process."""
    page = os.sysconf("SC_PAGE_SIZE")
    out = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process exited
            continue
        out[int(stat.split("/")[2])] = (int(fields[1]), int(fields[21]) * page)
    return out


def descendants(root: int, procs: dict | None = None) -> list:
    kids: dict = {}
    for pid, (ppid, _) in (procs or _procs()).items():
        kids.setdefault(ppid, []).append(pid)
    out, frontier = [], list(kids.get(root, ()))
    while frontier:
        pid = frontier.pop()
        out.append(pid)
        frontier.extend(kids.get(pid, ()))
    return out


def tree_rss_bytes(root: int) -> int:
    """Summed RSS of ``root`` and all its descendants (driver Python, the
    JVM it launched, and the JVM's Python workers)."""
    procs = _procs()
    return sum(procs[p][1] for p in [root] + descendants(root, procs) if p in procs)


def cpu_times() -> list:
    """The aggregate ``cpu`` line of /proc/stat, in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list, after: list) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times`` readings; host contention that inflates wall times."""
    delta = [a - b for a, b in zip(after, before)]
    return delta[7] / max(1, sum(delta))


class RssSampler:
    """Peak summed RSS of this process tree, sampled every ``period_s``
    while active."""

    def __init__(self, period_s: float = 0.05):
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


# ------------------------------------------------------------- host probe
def host_probe(threads: int, reps: int = 40, n: int = 256) -> float:
    """Wall time of a fixed CPU task shared by ``threads`` threads:
    ``reps`` x ``threads`` pieces, each an n x n matmul (BLAS pinned to one
    thread, which releases the GIL) and a pass over a 16 MB array, taken
    one at a time by whichever thread is free, as Spark hands tasks to free
    cores. On a shared host the speed of every core drifts; the probe,
    taken beside each run, measures that drift so the timings can be scaled
    to a reference host speed. Handing the pieces out on demand keeps one
    slowed core from stretching the probe more than it stretches a run."""
    rng = np.random.default_rng(0)
    a = rng.standard_normal((n, n))
    big = rng.standard_normal(2**21)
    pieces = itertools.count()  # next() is atomic under the GIL
    barrier = threading.Barrier(threads + 1)

    def work():
        x, out = a.copy(), np.empty_like(big)
        barrier.wait()
        while next(pieces) < reps * threads:
            x = x @ a
            x /= np.abs(x).max()
            np.multiply(big, 1.0001, out=out)
        barrier.wait()

    pool = [threading.Thread(target=work) for _ in range(threads)]
    for t in pool:
        t.start()
    barrier.wait()
    t0 = time.perf_counter()
    barrier.wait()
    wall = time.perf_counter() - t0
    for t in pool:
        t.join()
    return wall


# ---------------------------------------------------------- kernel layers
def kernel_layers(media_rows: list, model: str, weights: dict,
                  g3_weights: dict | None, n_tasks: int, tracer: Tracer) -> dict:
    """Run the kernel chain single-threaded on each distinct image, timing
    each function it is made of, in the shape the Spark kernel runs it.

    G2 runs ``oracle.extract.run_kernel_arrays``'s chain per image. The
    visual model runs ``oracle.extract.run_kernel_arrays_many``'s chain: the
    images are dealt round-robin into ``n_tasks`` groups (as many as the
    Spark run had kernel tasks), and each group's crops go through one fused
    ``visual._cnn_forward`` per CNN before the per-image G3 head. Returns
    the counts and {media_ref: cell texts}, so the caller can check the
    chain against the oracle."""
    from table_recognition_spark.core import assemble, geometry, gnn, knn
    from table_recognition_spark.core.bbox import polygons_to_bboxes
    from table_recognition_spark.core.blas import limit_blas_threads

    limit_blas_threads(1)
    if model == "visual":
        from table_recognition_spark.core import visual
        from table_recognition_spark.operators.multimodal import decode_image_visual
    counts = {"images": 0, "lines": 0, "edges": 0, "cells": 0}
    cells_by_ref = {}
    n_tasks = max(1, n_tasks)
    for task in range(n_tasks):
        prepared = []  # (ref, bboxes, texts, edges, x, e)
        node_crops, edge_crops = [], []
        for m in media_rows[task::n_tasks]:
            lines = sorted(m["ocr_lines"], key=lambda ln: ln["line_id"])
            if not lines:
                cells_by_ref[m["media_ref"]] = []
                continue
            w, h = m["width"], m["height"]
            polys = [[(p["x"], p["y"]) for p in ln["points"]] for ln in lines]
            with tracer.span("kernel.bbox_s"):
                b = polygons_to_bboxes(polys)
            with tracer.span("kernel.edges_s"):
                edges = knn.knn_edges(b)
            with tracer.span("kernel.node_feat_s"):
                x = geometry.node_features(b, w, h)
            with tracer.span("kernel.edge_feat_s"):
                e = geometry.edge_features(edges, b, w, h)
            if model == "visual":
                with tracer.span("kernel.img_decode_s"):
                    img = decode_image_visual(bytes(m["image"]))
                with tracer.span("kernel.crop_s"):
                    nc, ec = visual.crop_regions(img, b, edges)
                node_crops.append(nc)
                edge_crops.append(ec)
            prepared.append((m["media_ref"], b, [ln["text"] for ln in lines],
                             edges, x, e))
        if model == "visual" and prepared:
            with tracer.span("kernel.cnn_s"):
                nv_all = visual._cnn_forward(np.concatenate(node_crops), g3_weights,
                                             "g3.node_cnn", visual.NODE_CNN)
                ec_all = np.concatenate(edge_crops)
                ev_all = (visual._cnn_forward(ec_all, g3_weights, "g3.edge_cnn",
                                              visual.EDGE_CNN)
                          if len(ec_all) else np.zeros((0, 256), np.float32))
        n_off = e_off = 0
        for ref, b, texts, edges, x, e in prepared:
            if model == "visual":
                nv = nv_all[n_off:n_off + len(b)]
                ev = ev_all[e_off:e_off + len(edges)]
                n_off += len(b)
                e_off += len(edges)
                with tracer.span("kernel.visual_forward_s"):
                    node_lp, edge_lp = visual.forward(x, edges, e, None, None,
                                                      g3_weights, node_feats=nv,
                                                      edge_feats=ev)
            else:
                with tracer.span("kernel.gnn_s"):
                    node_lp, edge_lp = gnn.forward(x, edges, e, weights)
            with tracer.span("kernel.decode_s"):
                _, edge_cls = gnn.decode(node_lp, edge_lp)
            with tracer.span("kernel.assemble_s"):
                cells = assemble.assemble_cells(edges, edge_cls, b, texts)
            cells_by_ref[ref] = cells
            counts["images"] += 1
            counts["lines"] += len(b)
            counts["edges"] += len(edges)
            counts["cells"] += len(cells)
    return {"counts": counts, "cells": cells_by_ref}


# ------------------------------------------------------ Spark stage prefixes
def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def stage_prefixes(spark, w, docs_path: str, media_path: str, weights: dict,
                   g3_weights: dict | None) -> dict:
    """{stage: thunk running the pipeline up to and including that stage
    into a ``noop`` sink}. Each prefix carries every branch built so far
    (joined with ``unionByName(allowMissingColumns=True)``) so successive
    differences are the self time of one stage. The last prefix is the
    package's own ``extract_flat``."""
    from pyspark.sql import functions as F
    from table_recognition_spark.core import boilerplate
    from table_recognition_spark.pipeline.extract import (
        extract_flat, recognize_tables,
    )

    kw = {"model": w.model}
    if w.model == "visual":
        kw["g3_weights"] = g3_weights
    media_cols = ["media_ref", "ocr_lines", "width", "height"]
    if w.model == "visual":
        media_cols.append("image")

    def frames():
        docs = spark.read.parquet(docs_path)
        media = spark.read.parquet(media_path)
        spans = docs.select("doc_id", F.explode("spans").alias("s")).select(
            "doc_id", "s.kind", "s.text", "s.media_ref",
            F.col("s.offset").alias("orig_offset"))
        text = spans.filter(F.col("kind") == "text")
        media_spans = spans.filter(F.col("kind") == "media").select(
            "doc_id", "orig_offset", "media_ref")
        return docs, media, text, media_spans

    def union(*dfs):
        out = dfs[0]
        for df in dfs[1:]:
            out = out.unionByName(df, allowMissingColumns=True)
        return out

    def strip(text):
        return text.withColumn("text", boilerplate.spark_strip_expr(F.col("text")))

    def kernel_input(media, media_spans):
        refs = media_spans.select("media_ref").distinct()
        return refs.join(media.select(*media_cols), "media_ref")

    def cells(media, media_spans):
        return recognize_tables(kernel_input(media, media_spans), weights, None,
                                n_rows_bound=media.count(), **kw)

    def scan():
        docs, media, _, _ = frames()
        noop(union(docs, media.select(*media_cols)))

    def explode():
        _, media, text, media_spans = frames()
        noop(union(text, media_spans, media.select(*media_cols)))

    def strip_stage():
        _, media, text, media_spans = frames()
        noop(union(strip(text), media_spans, media.select(*media_cols)))

    def kernel_input_stage():
        _, media, text, media_spans = frames()
        media.count()  # extract sizes its kernel fan-out with this count
        noop(union(strip(text), media_spans, kernel_input(media, media_spans)))

    def kernel_stage():
        _, media, text, media_spans = frames()
        noop(union(strip(text), media_spans, cells(media, media_spans)))

    def fanout_join():
        _, media, text, media_spans = frames()
        out = media_spans.join(cells(media, media_spans), "media_ref")
        noop(union(strip(text), out))

    def reassembly():
        docs = spark.read.parquet(docs_path)
        media = spark.read.parquet(media_path)
        noop(extract_flat(docs, media, weights, **kw))

    return dict(zip(STAGES, (scan, explode, strip_stage, kernel_input_stage,
                             kernel_stage, fanout_join, reassembly)))


def time_rounds(spark, thunks: dict, run_once, run_group: str, seconds: float,
                min_rounds: int, budget_s: float, deadline: float, tracer: Tracer):
    """Rounds of one timed run (``run_once``, in job group ``run_group``)
    followed by every prefix, for ``seconds``; then more rounds, up to
    ``min_rounds``, while another round of the last one's length still ends
    within ``budget_s`` of the start. No round starts that would end past
    ``deadline`` (a ``time.perf_counter()`` value). Interleaving keeps the
    runs and the prefixes in the same warm-up state and lets slow drift hit
    all of them alike. Returns the run wall times and the median wall time of each
    prefix."""
    sc = spark.sparkContext
    runs, samples = [], {k: [] for k in thunks}
    start = time.perf_counter()
    while True:
        t0 = time.perf_counter()
        sc.setJobGroup(run_group, "timed run")
        runs.append(run_once())
        for name, fn in thunks.items():
            sc.setJobGroup(f"perfbench.prefix.{name}", name)
            t1 = time.perf_counter()
            with tracer.span(f"prefix.{name}"):
                fn()
            samples[name].append(time.perf_counter() - t1)
        now = time.perf_counter()
        if now + (now - t0) > deadline or now - start >= seconds and (
                len(runs) >= min_rounds or now - start + (now - t0) > budget_s):
            break
    sc.setJobGroup("perfbench.layers", "layer runs")
    return runs, {k: statistics.median(v) for k, v in samples.items()}


# -------------------------------------------------------------- event log
def event_log_counters(log_dir: str, run_group: str) -> dict:
    """Task and stage metrics of the jobs in ``run_group`` (the traced timed
    runs), summed from the Spark event log. ``kernel_tasks`` is the
    partition count of the ``MapInArrow`` RDDs those jobs ran, and
    ``kernel_run_ms`` the executor run time of the stages holding them."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    run_stages = set()
    stage_run_ms: dict = {}
    c = {"jobs": 0, "tasks": 0, "tasks_failed": 0, "run_ms": 0, "gc_ms": 0,
         "shuffle_bytes": 0, "kernel_tasks": 0, "kernel_run_ms": 0}
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                if (ev.get("Properties") or {}).get("spark.jobGroup.id") == run_group:
                    c["jobs"] += 1
                    run_stages.update(ev["Stage IDs"])
            elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in run_stages:
                c["tasks"] += 1
                if ev["Task End Reason"]["Reason"] != "Success":
                    c["tasks_failed"] += 1
                m = ev.get("Task Metrics") or {}
                run_ms = m.get("Executor Run Time", 0)
                c["run_ms"] += run_ms
                stage_run_ms[ev["Stage ID"]] = stage_run_ms.get(ev["Stage ID"], 0) + run_ms
                c["gc_ms"] += m.get("JVM GC Time", 0)
                c["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
            elif (kind == "SparkListenerStageCompleted"
                  and ev["Stage Info"]["Stage ID"] in run_stages):
                for rdd in ev["Stage Info"]["RDD Info"]:
                    if '"name":"MapInArrow"' in rdd.get("Scope", ""):
                        c["kernel_tasks"] += rdd["Number of Partitions"]
                        c["kernel_run_ms"] += stage_run_ms.get(
                            ev["Stage Info"]["Stage ID"], 0)
    return c
