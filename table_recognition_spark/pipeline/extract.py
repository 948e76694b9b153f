"""The distributed extraction pipeline (the engine's flagship "query").

Spark shape (SURVEY.md §3.1):

    docs ──explode(spans)──┬── text spans ──JVM regexp boilerplate strip ──┐
                           └── media spans ─┐                              │
    media ──(ocr_lines,w,h only; image      │ distinct(media_ref)          │
             bytes PRUNED from the scan) ───┴── join ── repartition ──     │
                 mapInArrow(GNN kernel, Arrow batches) ── cells ──         │
                 join back to span occurrences ────────────────────────────┤
                                                                           ▼
            groupBy(doc_id) → collect_list → array_sort → re-number offsets

Scale properties, deliberately:
- **Kernel runs once per distinct media_ref**, not per occurrence — shared
  images across documents cost one forward pass; results fan back out with
  an equi-join (AQE handles reference skew).
- **Column pruning**: the kernel needs only (ocr_lines, width, height); the
  potentially-huge ``image`` binary column never leaves the scan unless the
  caller asks for visual features.
- **Only Python boundary** is the Arrow-batched ``mapInArrow`` kernel (and
  optionally a pandas_udf text strip); boilerplate strip defaults to
  JVM-side ``regexp_replace`` inside whole-stage codegen.
- **One shuffle** for reassembly (groupBy doc_id); offsets are re-numbered
  inside the collected array with ``transform``, avoiding a per-row window.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F, types as T

from ..core import boilerplate
from ..core.gnn import weights_from_bytes, weights_to_bytes

CELLS_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("cell_idx", T.IntegerType()),
        T.StructField("text", T.StringType()),
    ]
)

OUT_SPAN_STRUCT = "struct<kind:string,text:string,media_ref:string,offset:int>"

# per-worker weights cache: each artifact (145 KB G2, 59 MB G3) is parsed
# from the broadcast bytes once per Python worker, not per batch. Keyed by
# the artifact's CONTENT digest (computed driver-side, shipped in the task
# closure), so a long-lived worker parses it once across every query
# invocation that uses the same weights; keying by the Broadcast object's
# id() made each run's fresh broadcast a miss (~0.6 s × workers per run).
_WEIGHTS_CACHE: dict = {}

# driver-side broadcast cache: {(id(sc), content digest): (sc, wdict, bc)},
# one live broadcast per (SparkContext, weights content), so repeated
# query invocations reuse it instead of re-shipping the artifact. Equal
# content passed as a fresh dict shares the entry (and replaces the pinned
# dict); pinning sc keeps its id() from being recycled, and entries of a
# stopped context are dropped.
_BC_CACHE: dict = {}


def _broadcast_weights(sc, wdict: dict):
    """(broadcast, content-digest) for a weights dict. The dict last seen
    with its content is an identity hit (no re-serialization of the 59 MB
    G3 artifact); another dict is serialized once to find its digest."""
    for key, (bc_sc, ref, bc) in list(_BC_CACHE.items()):
        if bc_sc._jsc is None:
            del _BC_CACHE[key]
        elif bc_sc is sc and ref is wdict:
            return bc, key[1]
    wbytes = weights_to_bytes(wdict)
    digest = hashlib.md5(wbytes).hexdigest()
    hit = _BC_CACHE.get((id(sc), digest))
    bc = hit[2] if hit else sc.broadcast(wbytes)
    _BC_CACHE[(id(sc), digest)] = (sc, wdict, bc)
    return bc, digest


def _cached_weights(bc, digest: str) -> dict:
    w = _WEIGHTS_CACHE.get(digest)
    if w is None:
        w = _WEIGHTS_CACHE[digest] = weights_from_bytes(bc.value)
    return w


def _kernel_fn(
    weights_bc,
    w_digest: str,
    strategy: str = "knn",
    model: str = "g2",
    g3_weights_bc=None,
    g3_digest: str | None = None,
):
    """Build the Arrow-batched kernel (``mapInArrow``).

    The nested ``ocr_lines`` column is consumed straight from the Arrow
    buffers — per-line bboxes come from ``np.minimum/maximum.reduceat``
    over the flat point arrays, never materializing per-point Python
    dicts. (The earlier mapInPandas version did; at 32 concurrent workers
    the dict materialization contended so badly it ran 3.7× SLOWER than
    at 8 workers — measured 6.7 s → 24.7 s for the same input.)

    Each image then goes through ``oracle.extract.run_kernel_arrays``,
    the oracle's own per-image kernel, for both models: Spark/oracle
    parity holds by construction, and a task's memory stays one image's
    crops however many images the task holds.

    Both weights artifacts arrive via ``sparkContext.broadcast`` (one
    copy per executor, fetched once) — never the task closure, which is
    re-shipped to the Python worker on EVERY task — and the parsed
    arrays are memoized in a module-level cache keyed by content digest.
    """

    def fn(batches):
        from ..core.blas import limit_blas_threads
        from ..oracle.extract import run_kernel_arrays

        limit_blas_threads(1)
        w = _cached_weights(weights_bc, w_digest)
        vw = None
        if model == "visual":
            vw = _cached_weights(g3_weights_bc, g3_digest)

        for rb in batches:
            refs = rb.column(rb.schema.get_field_index("media_ref")).to_pylist()
            widths = rb.column(rb.schema.get_field_index("width")).to_numpy(
                zero_copy_only=False
            )
            heights = rb.column(rb.schema.get_field_index("height")).to_numpy(
                zero_copy_only=False
            )
            images = None
            if model == "visual":
                images = rb.column(
                    rb.schema.get_field_index("image")
                ).to_pylist()
            ocr = rb.column(rb.schema.get_field_index("ocr_lines"))
            if isinstance(ocr, pa.ChunkedArray):  # pragma: no cover
                ocr = ocr.combine_chunks()
            row_off = ocr.offsets.to_numpy(zero_copy_only=False)
            lines = ocr.values
            line_ids = lines.field("line_id").to_numpy(zero_copy_only=False)
            texts_all = lines.field("text").to_pylist()
            pts_list = lines.field("points")
            pts_off = pts_list.offsets.to_numpy(zero_copy_only=False)
            pts = pts_list.values
            xs = pts.field("x").to_numpy(zero_copy_only=False)
            ys = pts.field("y").to_numpy(zero_copy_only=False)

            # per-line bboxes across the whole batch in four reduceats;
            # guard: every line has ≥1 point (fixture invariant)
            n_lines = len(line_ids)
            if n_lines:
                starts = pts_off[:-1]
                bx0 = np.minimum.reduceat(xs, starts)
                by0 = np.minimum.reduceat(ys, starts)
                bx1 = np.maximum.reduceat(xs, starts)
                by1 = np.maximum.reduceat(ys, starts)
                bboxes_all = np.stack([bx0, by0, bx1, by1], axis=1).astype(
                    np.int64
                )
            else:
                bboxes_all = np.empty((0, 4), dtype=np.int64)

            out_refs, out_idxs, out_texts = [], [], []
            for r in range(len(refs)):
                lo, hi = int(row_off[r]), int(row_off[r + 1])
                if hi <= lo:
                    continue
                order = np.argsort(line_ids[lo:hi], kind="stable") + lo
                cells = run_kernel_arrays(
                    bboxes_all[order],
                    [texts_all[j] for j in order],
                    int(widths[r]),
                    int(heights[r]),
                    w,
                    strategy,
                    model=model,
                    image=images[r] if images is not None else None,
                    visual_weights=vw,
                )
                for i, cell_text in enumerate(cells):
                    out_refs.append(refs[r])
                    out_idxs.append(i)
                    out_texts.append(cell_text)
            yield pa.RecordBatch.from_pydict(
                {
                    "media_ref": pa.array(out_refs, pa.string()),
                    "cell_idx": pa.array(out_idxs, pa.int32()),
                    "text": pa.array(out_texts, pa.string()),
                }
            )

    return fn


def recognize_tables(
    media_df: DataFrame,
    weights: dict,
    kernel_partitions: int | None = None,
    strategy: str = "knn",
    model: str = "g2",
    g3_weights: dict | None = None,
    n_rows_bound: int | None = None,
) -> DataFrame:
    """Distinct media rows → (media_ref, cell_idx, text) via the GNN kernel.

    model='visual' additionally reads the ``image`` binary column (the
    only path that does — everything else prunes it at the scan) and
    resolves its weights driver-side via ``visual.default_weights()``
    (the committed trained artifact when present, else seeded init —
    the same resolver the no-Spark oracle uses, so parity holds by
    construction); the artifact ships to executors as a broadcast like
    the G2 weights.

    ``kernel_partitions`` defaults to ``defaultParallelism``, capped by
    ``n_rows_bound`` (a known upper bound on the input row count) when
    the caller has one."""
    cols = ["media_ref", "ocr_lines", "width", "height"]
    if model == "visual":
        cols.append("image")
    cols = media_df.select(*cols)
    if kernel_partitions is None:
        # one task per core: every Python task costs ~250 ms of worker CPU
        # whatever its data. Almost all of it is pyspark's per-task
        # setup_spark_files → importlib.invalidate_caches(), which re-reads
        # pyspark.zip's directory once per zipimporter the worker holds
        # (cProfile of a reused worker running a trivial mapInArrow UDF:
        # 24 tasks cost 6.1-6.6 worker CPU-s, 4 tasks 1.0). More tasks per
        # core would level the ~3× per-image cost spread, but each costs
        # more than the tail it saves; round-robin partitions already give
        # every task an equal image count.
        kernel_partitions = media_df.sparkSession.sparkContext.defaultParallelism
        if n_rows_bound is not None:
            kernel_partitions = max(1, min(kernel_partitions, n_rows_bound))
    if kernel_partitions:
        # round-robin, NOT hash-by-ref: each input row is one complete
        # media (ref + all its ocr lines), so the kernel needs no key
        # co-location — and hash partitioning leaves collision
        # stragglers on small/skewed ref sets (two 300 ms visual-kernel
        # images in one task = a 2× tail) where round-robin balances
        # exactly
        cols = cols.repartition(kernel_partitions)
    sc = media_df.sparkSession.sparkContext
    g3_bc, g3_digest = None, None
    if model == "visual":
        from ..core import visual

        g3 = g3_weights if g3_weights is not None else visual.default_weights()
        g3_bc, g3_digest = _broadcast_weights(sc, g3)
    w_bc, w_digest = _broadcast_weights(sc, weights)
    return cols.mapInArrow(
        _kernel_fn(w_bc, w_digest, strategy, model, g3_bc, g3_digest),
        schema=CELLS_SCHEMA,
    )


def _strip_text(df: DataFrame, engine: str) -> DataFrame:
    if engine == "pandas_udf":
        @F.pandas_udf(T.StringType())
        def strip(s: pd.Series) -> pd.Series:
            return boilerplate.strip_boilerplate_series(s)

        return df.withColumn("text", strip("text"))
    # default: JVM-side regexp chain (whole-stage codegen)
    return df.withColumn("text", boilerplate.spark_strip_expr(F.col("text")))


def _all_spans(
    docs_df: DataFrame,
    media_df: DataFrame,
    weights: dict,
    text_engine: str = "jvm",
    kernel_partitions: int | None = None,
    broadcast_cells: bool | None = None,
    strategy: str = "knn",
    model: str = "g2",
    g3_weights: dict | None = None,
) -> DataFrame:
    """Shared pipeline core → un-numbered output spans
    (doc_id, orig_offset, sub_idx, kind, text, media_ref)."""
    spans = docs_df.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("orig_offset"),
    )

    text = _strip_text(spans.filter(F.col("kind") == "text"), text_engine).select(
        "doc_id",
        "orig_offset",
        F.lit(0).alias("sub_idx"),
        F.lit("main_text").alias("kind"),
        "text",
        F.lit("").alias("media_ref"),
    )

    media_spans = spans.filter(F.col("kind") == "media").select(
        "doc_id", "orig_offset", "media_ref"
    )

    # kernel once per distinct ref; the join to `media` prunes the image
    # bytes column at the scan
    refs = media_spans.select("media_ref").distinct()
    media_cols = ["media_ref", "ocr_lines", "width", "height"]
    if model == "visual":
        media_cols.append("image")
    kernel_input = refs.join(media_df.select(*media_cols), "media_ref")
    cells = recognize_tables(
        kernel_input, weights, kernel_partitions, strategy, model, g3_weights
    )
    if broadcast_cells:
        cells = F.broadcast(cells)

    media_out = media_spans.join(cells, "media_ref").select(
        "doc_id",
        "orig_offset",
        F.col("cell_idx").alias("sub_idx"),
        F.lit("cell").alias("kind"),
        "text",
        "media_ref",
    )

    return text.unionByName(media_out)


def extract(
    docs_df: DataFrame,
    media_df: DataFrame,
    weights: dict,
    **kwargs,
) -> DataFrame:
    """docs + media → out(doc_id, spans) with re-numbered dense offsets.

    Canonical semantics == ``oracle.extract_corpus``: text spans →
    kind='main_text' (boilerplate-stripped), media spans → one kind='cell'
    span per assembled table cell; media_refs absent from ``media_df`` emit
    nothing (inner join).
    """
    all_spans = _all_spans(docs_df, media_df, weights, **kwargs)

    return (
        all_spans.groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct("orig_offset", "sub_idx", "kind", "text", "media_ref")
                )
            ).alias("tmp")
        )
        .select(
            "doc_id",
            F.transform(
                "tmp",
                lambda s, i: F.struct(
                    s["kind"].alias("kind"),
                    s["text"].alias("text"),
                    s["media_ref"].alias("media_ref"),
                    i.cast("int").alias("offset"),
                ),
            ).cast(f"array<{OUT_SPAN_STRUCT}>").alias("spans"),
        )
    )


def extract_flat(
    docs_df: DataFrame, media_df: DataFrame, weights: dict, **kwargs
) -> DataFrame:
    """Same result as exploding :func:`extract` — one row per output span —
    but computed with a window ``row_number`` instead of
    collect_list/array_sort: the flat consumer needs no arrays, and the
    ObjectHashAggregate's per-doc array building was the GC-heavy phase of
    the benchmark (~25 s at 72% CPU on the 80k-doc corpus)."""
    from pyspark.sql import Window

    all_spans = _all_spans(docs_df, media_df, weights, **kwargs)
    w = Window.partitionBy("doc_id").orderBy("orig_offset", "sub_idx")
    return all_spans.select(
        "doc_id",
        (F.row_number().over(w) - 1).alias("offset"),
        "kind",
        "text",
        "media_ref",
    )
