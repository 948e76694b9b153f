#!/usr/bin/env python3
"""Layer-accounted extraction benchmark.

    python3 perfbench/run.py --workload interleaved_sf0.1 --seed 42 \
        --seconds 15 --trace 0

Generates the workload's corpus from ``--seed``, computes the expected
spans with the numpy oracle, then drives the Spark extraction pipeline in
a closed loop (one client: each run starts after the previous one ends)
on ``local[nproc]``. ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` prints the per-layer table. The last stdout line is one
JSON object: {"correct", "attempted", "failed", "metrics"}. The exit code
is 0 only when every run matched the oracle. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MIN_RUNS = 3  # timed runs per loop, even past --seconds
MIN_ROUNDS = 2  # traced rounds (a run plus every stage prefix) ...
ROUNDS_BUDGET_S = 45  # ... while they fit this many seconds
# An invocation must end within 180 s. Past SOFT_LIMIT_S no timed run or
# traced round starts that would end after it (at least one is kept); at
# HARD_LIMIT_S a watchdog kills every process started here, waits for
# them, and exits with WATCHDOG_EXIT and no result line.
SOFT_LIMIT_S = 135
HARD_LIMIT_S = 165
WATCHDOG_EXIT = 3
PR_SET_CHILD_SUBREAPER = 36
PR_SET_PDEATHSIG = 1
# wall time of layers.host_probe on 4 threads on a quiet 4-vCPU x86 VM;
# end-to-end times are reported in seconds of a host of that speed
PROBE_REF_S = 0.19
CKPT_CHUNKS = 2  # doc-hash chunks of the traced checkpointed run
RUN_GROUP = "perfbench.run"
CKPT_METRICS = (("ckpt.chunks", "count"), ("ckpt.chunk_p50_s", "s"),
                ("ckpt.chunk_overhead_s", "s"), ("ckpt.bytes_per_span", "bytes"),
                ("ckpt.resume_noop_s", "s"))
# printed only: error_rate is carried in the result line by
# "attempted"/"failed" (a metric that is 0 on every good run has no median
# to bound); the unscaled walls, the probe and host steal describe the host
NOT_IN_JSON = {"error_rate", "host_steal_share", "wall.run_p50_s", "wall.setup_s",
               "host.probe_p50_s"}


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


class Bench:
    """One workload at one seed: corpus, oracle, Spark sessions, runs."""

    def __init__(self, workload: str, seed: int, scale: float = 1.0,
                 trace: bool = False, deadline: float = float("inf")):
        from corpus import WORKLOADS
        from layers import Tracer

        self.w = WORKLOADS[workload]
        self.seed = seed
        self.scale = scale
        self.deadline = deadline  # time.perf_counter() past which no run starts
        self.cores = len(os.sched_getaffinity(0))
        self.tmp = tempfile.mkdtemp(prefix=".perfbench-", dir=ROOT)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.probes = []  # host_probe walls, before set-up, each run, and after
        self.tracer = Tracer(trace)
        # everything Spark, the JVM and Python write goes under self.tmp;
        # close() restores the previous values
        env = {"TMPDIR": self.tmp, "SPARK_DRIVER_MEM": "3g",
               "SPARK_LOCAL_DIRS": os.path.join(self.tmp, "spark-local"),
               # spark-submit's launcher JVM: no hsperfdata file under /tmp
               "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={self.tmp}"}
        self._saved_env = {k: os.environ.get(k) for k in env}
        os.environ.update(env)
        tempfile.tempdir = self.tmp
        self.weights_path = os.path.join(ROOT, "weights", "g2_trained_seed42.npz")
        self.g3_path = os.path.join(ROOT, "weights", "g3_trained_seed42.npz")

    # ----------------------------------------------------------- inputs
    def prepare(self) -> None:
        import corpus

        with corpus.new_pool(self.cores) as pool:
            self.corpus = corpus.make(self.w, self.seed, self.scale,
                                      self.tmp, pool)
            self.expected = corpus.oracle(self.corpus, self.w,
                                          self.weights_path, pool, self.cores)
        # from here on the JVM and its workers are the only descendants; the
        # pool's semaphores go first, so that none is left to the tracker
        del pool
        corpus.stop_resource_tracker()
        self.expected_spans = sum(len(s) for s in self.expected.values())
        self.shape = self.corpus.shape()
        self.shape["out_spans"] = self.expected_spans

    def read(self):
        return (self.spark.read.parquet(self.corpus.docs_path),
                self.spark.read.parquet(self.corpus.media_path))

    # ---------------------------------------------------------- sessions
    def start_session(self, event_log: bool = False) -> dict:
        """get_spark + weight load + cold first run, each timed. The cold run
        is the span-for-span check."""
        import numpy as np
        from table_recognition_spark.core import gnn
        from table_recognition_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
        }
        if event_log:
            self.event_dir = os.path.join(self.tmp, "events")
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": "file://" + self.event_dir,
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.rolling.enabled": "false"})
        tr = self.tracer
        jvm_dies_with_this_process()
        self.probe()
        t0 = time.perf_counter()
        with tr.span("session.start_s"):
            self.spark = get_spark("perfbench", parallelism=self.cores,
                                   extra_conf=conf)
        t1 = time.perf_counter()
        with tr.span("session.weights_load_s"):
            self.weights = gnn.load_weights(self.weights_path)
            self.g3 = None
            if self.w.model == "visual":
                with np.load(self.g3_path) as data:
                    self.g3 = {k: data[k] for k in data.files}
        t2 = time.perf_counter()
        with tr.span("session.warmup_s"):
            warmup = self.verify()
        return {"start_s": t1 - t0, "weights_load_s": t2 - t1,
                "warmup_s": warmup, "setup_s": t2 - t0 + warmup}

    def stop_session(self) -> None:
        """Stop Spark and the gateway JVM, and wait until the JVM and its
        Python workers have exited, so the next session starts cold."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if self.spark is None and gw is None:
            return
        proc = getattr(gw, "proc", None)
        if self.spark is not None:  # None when stopped while it started
            self.spark.stop()
            self.spark = None
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        reap_all(timeout=30)

    # -------------------------------------------------------------- runs
    def kwargs(self) -> dict:
        kw = {"model": self.w.model}
        if self.w.model == "visual":
            kw["g3_weights"] = self.g3
        return kw

    def run_once(self) -> float:
        """One run, input to complete result: ``extract_flat`` into a count
        sink. The count is checked against the oracle; a run that raises or
        miscounts is failed. Returns the wall time."""
        from table_recognition_spark.pipeline.extract import extract_flat

        self.probe()
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span("run"):
                n = extract_flat(*self.read(), self.weights, **self.kwargs()).count()
        except Exception:
            traceback.print_exc()
            n = None
        wall = time.perf_counter() - t0
        if n != self.expected_spans:
            self.failed += 1
            print(f"run {self.attempted}: {n} spans, oracle has "
                  f"{self.expected_spans}", file=sys.stderr)
        return wall

    def probe(self) -> None:
        """Two host probes: one alone is at the mercy of second-scale
        jitter on a shared host."""
        from layers import host_probe

        self.probes += [host_probe(self.cores) for _ in range(2)]

    def host_scale(self) -> float:
        """Factor that turns this invocation's wall times into seconds of
        the reference host: PROBE_REF_S over the median probe."""
        return PROBE_REF_S / _median(self.probes)

    def timed_loop(self, seconds: float) -> list:
        """The workload's warm-up runs, then timed runs for ``seconds`` and
        at least MIN_RUNS. Every run is checked. Returns the timed walls."""
        for _ in range(self.w.warmup_runs):
            self.run_once()
        walls = []
        end = time.perf_counter() + seconds
        while len(walls) < MIN_RUNS or time.perf_counter() < end:
            if walls and time.perf_counter() + walls[-1] > self.deadline:
                break
            walls.append(self.run_once())
        self.probe()
        return walls

    def check(self, produce) -> None:
        """One attempted run whose full output ``produce()`` returns as
        {doc_id: [(kind, text, media_ref, offset), ...]}; it fails unless
        it equals the oracle span for span."""
        from corpus import mismatches

        self.attempted += 1
        try:
            bad = mismatches(produce(), self.expected)
        except Exception:
            traceback.print_exc()
            bad = ["<raised>"]
        if bad:
            self.failed += 1
            print(f"span mismatch in {len(bad)} docs, first {bad[:3]}",
                  file=sys.stderr)

    def verify(self) -> float:
        """One run whose full ``extract_flat`` output is collected and
        checked span for span. Returns its wall time, check excluded."""
        from corpus import span_rows_to_docs
        from table_recognition_spark.pipeline.extract import extract_flat

        wall = []

        def produce():
            t0 = time.perf_counter()
            rows = extract_flat(*self.read(), self.weights, **self.kwargs()).collect()
            wall.append(time.perf_counter() - t0)
            return span_rows_to_docs(rows)

        self.check(produce)
        return wall[0] if wall else float("nan")

    def close(self) -> None:
        from corpus import stop_resource_tracker

        try:
            self.stop_session()
        finally:
            stop_resource_tracker()
            reap_all(timeout=10)
            shutil.rmtree(self.tmp, ignore_errors=True)
            tempfile.tempdir = None
            for k, v in self._saved_env.items():
                if v is None:
                    os.environ.pop(k, None)
                else:
                    os.environ[k] = v


def _prctl(option: int, arg: int) -> None:
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(option, arg)


def become_subreaper() -> None:
    """Make this process the child subreaper of everything it starts: a
    descendant whose parent exits (the JVM's Python workers when the JVM
    goes first) is re-parented here, where ``reap_all`` can wait for it."""
    _prctl(PR_SET_CHILD_SUBREAPER, 1)


def jvm_dies_with_this_process() -> None:
    """Have the kernel SIGKILL the gateway JVM that pyspark launches as
    soon as this process dies, even by SIGKILL. Without it the JVM lives
    on until it notices its stdin close, and with it its Python workers.
    Wraps the ``Popen`` that ``pyspark.java_gateway.launch_gateway`` calls;
    the death signal survives the ``exec`` chain spark-submit -> java."""
    import pyspark.java_gateway as jg

    if getattr(jg.Popen, "dies_with_parent", False):
        return
    popen = jg.Popen

    def Popen(*args, preexec_fn=None, **kwargs):
        def preexec():
            if preexec_fn is not None:
                preexec_fn()
            _prctl(PR_SET_PDEATHSIG, signal.SIGKILL)

        return popen(*args, preexec_fn=preexec, **kwargs)

    Popen.dies_with_parent = True
    jg.Popen = Popen


def reap_all(timeout: float) -> None:
    """Wait until this process has no descendant left, reaping every child
    (as a child subreaper it also gets orphaned descendants). Any still
    there after ``timeout`` seconds is killed, and given 5 s more."""
    from layers import descendants

    deadline, killed = time.time() + timeout, False
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:  # no children at all
            pass
        left = descendants(os.getpid())
        if not left:
            return
        if time.time() > deadline:
            if killed:
                print(f"perfbench: processes {left} would not end", file=sys.stderr)
                return
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline, killed = time.time() + 5, True
        time.sleep(0.02)


def abort(tmp: str, code: int) -> None:
    """Kill every process this one started, wait for them, remove ``tmp``
    and exit with ``code``, printing no result line. Safe from a signal
    handler or another thread: it never returns."""
    from layers import descendants

    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    reap_all(timeout=10)
    shutil.rmtree(tmp, ignore_errors=True)
    os._exit(code)


def arm_watchdog(tmp: str, limit_s: float) -> threading.Timer:
    def fire():
        print(f"perfbench: still running after {limit_s:.0f} s; stopping every "
              "process it started", file=sys.stderr, flush=True)
        abort(tmp, WATCHDOG_EXIT)

    timer = threading.Timer(limit_s, fire)
    timer.daemon = True
    timer.start()
    return timer


# ------------------------------------------------------------------ modes
def end_to_end(b: Bench, seconds: float) -> dict:
    """Set-up (one cold session, whose first run is checked span for span),
    then the timed closed loop."""
    from layers import RssSampler, cpu_times, steal_share

    setup = b.start_session()["setup_s"]
    cpu0 = cpu_times()
    with RssSampler() as rss:
        walls = b.timed_loop(seconds)
    steal = steal_share(cpu0, cpu_times())
    p50 = _median(walls)
    scale = b.host_scale()
    return {
        "docs_per_s": (b.shape["docs"] / (p50 * scale), "docs/s"),
        "run_p50_s": (p50 * scale, "s"),
        "setup_s": (setup * scale, "s"),
        "error_rate": (b.failed / b.attempted, "ratio"),
        "peak_rss_mb": (rss.peak / 2**20, "MB"),
        "wall.run_p50_s": (p50, "s"),
        "wall.setup_s": (setup, "s"),
        "host.probe_p50_s": (_median(b.probes), "s"),
        "host_steal_share": (steal, "ratio"),
        "_samples": walls,
    }


def checkpoint_layer(b: Bench, out: dict) -> None:
    """``CheckpointedExtract.run`` over the same corpus into a fresh
    directory (its written chunks are checked against the oracle), one
    unchunked ``extract`` into a noop sink, and three runs over the
    all-committed directory."""
    import pyarrow.parquet as pq
    from layers import noop
    from table_recognition_spark.pipeline.checkpoint import CheckpointedExtract
    from table_recognition_spark.pipeline.extract import extract

    tr = b.tracer
    t0 = time.perf_counter()
    with tr.span("ckpt.unchunked_extract"):
        noop(extract(*b.read(), b.weights, **b.kwargs()))
    unchunked = time.perf_counter() - t0

    ck = CheckpointedExtract(os.path.join(b.tmp, "ckpt"), n_chunks=CKPT_CHUNKS)
    timing = {}

    def run_and_read():
        t0 = time.perf_counter()
        with tr.span("ckpt.run"):
            ck.run(b.spark, *b.read(), b.weights, **b.kwargs())
        timing["run"] = time.perf_counter() - t0
        return {r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"])
                              for s in r["spans"]]
                for r in ck.read_output(b.spark).collect()}

    b.check(run_and_read)
    progress = pq.read_table(ck.progress_dir).to_pydict()
    data_bytes = sum(os.path.getsize(os.path.join(d, f))
                     for d, _, fs in os.walk(ck.data_dir) for f in fs
                     if f.endswith(".parquet"))
    resume = []
    for _ in range(3):
        t0 = time.perf_counter()
        with tr.span("ckpt.resume"):
            ck.run(b.spark, *b.read(), b.weights, **b.kwargs())
        resume.append(time.perf_counter() - t0)
    out.update({
        "ckpt.chunks": (len(progress["chunk"]), "count"),
        "ckpt.chunk_p50_s": (_median(progress["seconds"]), "s"),
        "ckpt.chunk_overhead_s":
            ((timing.get("run", float("nan")) - unchunked) / CKPT_CHUNKS, "s"),
        "ckpt.bytes_per_span": (data_bytes / max(1, sum(progress["n_spans"])), "bytes"),
        "ckpt.resume_noop_s": (_median(resume), "s"),
    })


def per_layer(b: Bench, seconds: float) -> dict:
    """One session with the Spark event log on gives the traced runs, each
    followed by a round of stage prefixes, then the checkpoint layer; the
    kernel layers run last, in this process, with the JVM gone."""
    import layers

    tr = b.tracer
    setup = b.start_session(event_log=True)
    out = {f"session.{k}": (setup[k], "s")
           for k in ("start_s", "weights_load_s", "warmup_s")}
    thunks = layers.stage_prefixes(b.spark, b.w, b.corpus.docs_path,
                                   b.corpus.media_path, b.weights, b.g3)
    traced, prefix = layers.time_rounds(b.spark, thunks, b.run_once, RUN_GROUP,
                                        seconds, MIN_ROUNDS, ROUNDS_BUDGET_S,
                                        b.deadline, tr)
    run_p50 = _median(traced)
    prev = 0.0
    for stage in layers.STAGES:
        out[f"extract.{stage}_s"] = (prefix[stage] - prev, "s")
        prev = prefix[stage]
    if b.w.checkpoint:
        checkpoint_layer(b, out)
    else:
        out.update({k: (0, u) for k, u in CKPT_METRICS})
    b.stop_session()

    ev = layers.event_log_counters(b.event_dir, RUN_GROUP)
    n = len(traced)
    out.update({
        "spark.jobs": (ev["jobs"] / n, "count"),
        "spark.tasks": (ev["tasks"] / n, "count"),
        "spark.tasks_failed": (ev["tasks_failed"], "count"),
        "spark.executor_run_s": (ev["run_ms"] / 1e3 / n, "s"),
        "spark.gc_s": (ev["gc_ms"] / 1e3 / n, "s"),
        "spark.shuffle_write_mb": (ev["shuffle_bytes"] / 2**20 / n, "MB"),
        "spark.cpu_busy_share": (ev["run_ms"] / 1e3 / (sum(traced) * b.cores), "ratio"),
    })

    with tr.span("kernel.layers"):
        k = layers.kernel_layers(b.corpus.distinct_media(), b.w.model,
                                 b.weights, b.g3, round(ev["kernel_tasks"] / n), tr)
    self_t = tr.totals("kernel.")
    compute = 0.0
    for name in layers.KERNEL_LAYERS:
        v = self_t.get(f"kernel.{name}_s", 0.0)
        out[f"kernel.{name}_s"] = (v, "s")
        compute += v
    out["kernel.compute_core_s"] = (compute, "s")
    for c in ("images", "lines", "edges", "cells"):
        out[f"kernel.{c}"] = (k["counts"][c], "count")
    out["kernel.ms_per_image"] = (1e3 * compute / max(1, k["counts"]["images"]), "ms")
    # the timed chain must reproduce the oracle's span count
    b.attempted += 1
    n_text = sum(1 for d in b.corpus.docs for s in d["spans"] if s["kind"] == "text")
    n_cells = sum(len(k["cells"].get(r, ())) for r in b.corpus.media_spans())
    if n_text + n_cells != b.expected_spans:
        b.failed += 1
        print(f"kernel chain gives {n_text + n_cells} spans, oracle "
              f"{b.expected_spans}", file=sys.stderr)

    stage_sum = sum(out[f"extract.{s}_s"][0] for s in layers.STAGES)
    kernel_stage = out["extract.kernel_stage_s"][0]
    media_spans = b.shape["media_spans"]
    out.update({
        "extract.layer_sum_ratio": (stage_sum / run_p50, "ratio"),
        "extract.media_spans": (media_spans, "count"),
        "extract.distinct_refs": (b.shape["distinct_refs"], "count"),
        "extract.dedup_ratio": (b.shape["distinct_refs"] / max(1, media_spans), "ratio"),
        "extract.kernel_tasks": (ev["kernel_tasks"] / n, "count"),
        "extract.kernel_executor_s": (ev["kernel_run_ms"] / 1e3 / n, "s"),
        "extract.out_spans": (b.expected_spans, "count"),
        "extract.kernel_boundary_share":
            (1 - compute / (kernel_stage * b.cores) if kernel_stage > 0 else 0, "ratio"),
        "trace.run_p50_s": (run_p50 * b.host_scale(), "s"),
    })
    out["_samples"] = traced
    return out


def print_table(title: str, metrics: dict) -> None:
    print(title)
    for name, val in sorted(metrics.items()):
        if not name.startswith("_"):
            print(f"  {name:34s} {val[0]:14.6g} {val[1]}")


def main(argv=None) -> int:
    started = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="corpus size factor (the smoke test runs tiny corpora)")
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    try:
        import table_recognition_spark  # noqa: F401  (pins BLAS threads first)
        from corpus import WORKLOADS
    except ImportError as e:
        print(f"perfbench: cannot import the package under test: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    for p in ("g2_trained_seed42.npz", "g3_trained_seed42.npz"):
        if not os.path.exists(os.path.join(ROOT, "weights", p)):
            print(f"perfbench: missing weights/{p}", file=sys.stderr)
            return 2

    become_subreaper()
    b = Bench(args.workload, args.seed, args.scale, trace=bool(args.trace),
              deadline=started + SOFT_LIMIT_S)
    # on a signal or past the hard limit: kill and reap every process
    # started here, remove tmp, exit without a result
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, lambda signum, _: abort(b.tmp, 128 + signum))
    watchdog = arm_watchdog(b.tmp, HARD_LIMIT_S - (time.perf_counter() - started))
    try:
        b.prepare()
        print(f"workload {args.workload} seed {args.seed}: "
              + ", ".join(f"{k}={v}" for k, v in b.shape.items()))
        if args.trace:
            metrics = per_layer(b, args.seconds)
            walls = " ".join(f"{w:.2f}" for w in metrics["_samples"])
            print_table(f"per-layer ({len(metrics['_samples'])} traced runs: {walls} s)",
                        metrics)
            ratio = metrics["extract.layer_sum_ratio"][0]
            if abs(ratio - 1) > 0.1:
                print(f"stage self times sum to {ratio:.2f} x run_p50_s: "
                      "the gap exceeds 10%")
            # one stderr line, so the run leaves no file behind
            print("spans " + json.dumps(b.tracer.spans), file=sys.stderr)
        else:
            metrics = end_to_end(b, args.seconds)
            walls = " ".join(f"{w:.2f}" for w in metrics["_samples"])
            probes = " ".join(f"{p:.3f}" for p in b.probes)
            print_table(f"end-to-end ({b.w.warmup_runs} warm-up runs, "
                        f"{len(metrics['_samples'])} timed runs: {walls} s; "
                        f"probes {probes} s)", metrics)
    finally:
        b.close()
        watchdog.cancel()
    correct = b.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": v[0], "unit": v[1]} for k, v in metrics.items()
                    if not k.startswith("_") and k not in NOT_IN_JSON},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
