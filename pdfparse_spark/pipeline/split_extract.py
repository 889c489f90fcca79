"""Per-page-parallel extraction of huge documents (the straggler no salting
can fix).

``run_extraction`` spreads turns, but one 10k-page PDF is still ONE row and
pins one task for minutes while 31 cores idle.  This module splits such
documents across tasks with an EXACT reassembly:

1. **Probe** — pdf-classified turns run a cheap page-count pass (xref +
   page-tree walk, no content decode; ~100x cheaper than extraction).
2. **Split** — docs with ``n_pages > page_threshold`` explode into
   ``pages_per_seg``-page segments, repartitioned so segments of one doc
   land on different tasks.  The payload is replicated per segment — a
   deliberate, bounded cost (n_pages / pages_per_seg copies) paid only for
   the rare heavy docs, in exchange for removing the unbounded straggler.
3. **Merge** — a grouped ``applyInArrow`` reapplies the |Δy|>3 newline
   policy at segment boundaries from each segment's (first_y, last_y)
   metadata (kernel.extract.merge_pdf_segments), making the output
   byte-identical to whole-doc extraction — pinned by
   ``test_split_extraction_matches_whole`` including the
   no-newline-at-page-boundary case.

Light docs (and non-pdf turns) take the normal ``run_extraction`` path
untouched; the heavy key set is collected and broadcast (heavy docs are
rare by definition, and the planner degrades gracefully: an unparseable
probe routes the turn to the whole-doc path, which surfaces the real
error).  All three bodies are Arrow bodies (``mapInArrow`` /
``applyInArrow``) that build ``spans`` with the main body's
``extract.spans_array``; no pandas frame sits in the path.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from . import pyworker
from .extract import (
    INPUT_COLS,
    OUTPUT_SCHEMA,
    TURN_KEY_COLS,
    kernel_arrays,
    run_extraction,
    spans_array,
)

__all__ = ["run_extraction_split"]

_PROBE_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("n_pages", T.IntegerType(), False),
        # /Count fields validated -> segments may use the subtree-skipping
        # fast window walk (O(window) instead of O(total pages) per segment)
        T.StructField("fast", T.BooleanType(), False),
    ]
)

# extract_pdf_segment's result keys, in schema order
_SEG_COLS = ("seg_text", "spans", "status", "first_y", "last_y", "rendered_any")
_SEGMENT_SCHEMA = T.StructType(
    [OUTPUT_SCHEMA[k] for k in TURN_KEY_COLS]
    + [
        T.StructField("seg_idx", T.IntegerType(), False),
        T.StructField("seg_text", T.StringType(), True),
        OUTPUT_SCHEMA["spans"],
        T.StructField("status", T.StringType(), False),
        T.StructField("first_y", T.DoubleType(), True),
        T.StructField("last_y", T.DoubleType(), True),
        T.StructField("rendered_any", T.BooleanType(), False),
    ]
)
_SEG_TYPES = {f.name: to_arrow_type(f.dataType) for f in _SEGMENT_SCHEMA.fields}


def _probe_batch(batches: Iterable[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    pyworker.install()
    from ..kernel.extract import probe_pdf_pages_validated

    for batch in batches:
        probed = [probe_pdf_pages_validated(t) for t in batch.column("text").to_pylist()]
        yield pa.RecordBatch.from_arrays(
            [
                batch.column("conv_id"),
                batch.column("turn_idx"),
                pa.array([n for n, _ in probed], pa.int32()),
                pa.array([ok for _, ok in probed], pa.bool_()),
            ],
            names=_PROBE_SCHEMA.names,
        )


def _segment_batch(batches: Iterable[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    pyworker.install()
    from ..kernel.extract import extract_pdf_segment

    for batch in batches:
        args = [batch.column(k).to_pylist() for k in ("text", "p_start", "p_end", "fast")]
        segs = [extract_pdf_segment(t, s, e, fast=f) for t, s, e, f in zip(*args)]
        cols = [batch.column(k) for k in TURN_KEY_COLS + ("seg_idx",)]
        for k in _SEG_COLS:
            vals = [seg[k] for seg in segs]
            cols.append(spans_array(vals) if k == "spans" else pa.array(vals, _SEG_TYPES[k]))
        yield pa.RecordBatch.from_arrays(cols, names=_SEGMENT_SCHEMA.names)


def _merge_group(table: pa.Table) -> pa.Table:
    pyworker.install()
    from ..kernel.extract import merge_pdf_segments

    table = table.sort_by("seg_idx")
    cols = {k: table.column(k).to_pylist() for k in _SEG_COLS if k != "spans"}
    # spans back to per-segment (page, start, end) lists from the flat
    # child arrays: absolute offsets into the struct values, no per-span dict
    spans = table.column("spans").combine_chunks()
    flat = list(zip(*(c.to_pylist() for c in spans.values.flatten())))
    offsets = spans.offsets.to_pylist()
    cols["spans"] = [flat[a:b] for a, b in zip(offsets, offsets[1:])]
    segs = [dict(zip(cols, vals)) for vals in zip(*cols.values())]
    text, merged_spans, status = merge_pdf_segments(segs)
    keys = [table.column(k).slice(0, 1) for k in TURN_KEY_COLS]
    return pa.Table.from_arrays(
        keys + kernel_arrays(["pdf"], [text], [merged_spans], [status]),
        names=OUTPUT_SCHEMA.names,
    )


def run_extraction_split(
    df: DataFrame,
    num_partitions: int | None = None,
    page_threshold: int = 32,
    pages_per_seg: int = 8,
    probe_min_bytes: int | None = None,
    max_segments_per_doc: int = 64,
) -> DataFrame:
    """Extraction with per-page parallelism for heavy documents.  Output
    rows are identical to :func:`run_extraction` (schema and values).

    The page-count probe runs once, when this function is called: the
    heavy keys (broadcast-sized by construction — heavy docs are rare) are
    collected to the driver and broadcast back as a local frame that feeds
    both the heavy join and the light anti-join.  Nothing is persisted, so
    the query leaves no cached RDD behind.

    ``probe_min_bytes`` skips the page-count probe for payloads below the
    threshold (a JVM-side length check): kernel time scales with content
    size, so a small payload cannot be a straggler regardless of its page
    count — at scale this keeps the probe off the long tail of small docs
    entirely.  Default (None) derives ``page_threshold * 24`` — 24 bytes is
    a conservative floor per page object (dict + xref entry, even ObjStm-
    packed), so no payload below it can exceed ``page_threshold`` pages;
    and even if one somehow did, it would only miss the fast path, never
    lose correctness.  Pass 0 to probe everything.

    ``max_segments_per_doc`` widens segments for extreme page counts so a
    doc never fans out into more than this many tasks: each segment's
    page-tree walk is O(total pages), so total walk work is
    O(pages x segments) — capping segments bounds that overhead factor
    while 64-way fan-out already removes the straggler.
    """
    df = df.select(*INPUT_COLS)
    if probe_min_bytes is None:
        probe_min_bytes = page_threshold * 24
    probe_pred = F.col("text").startswith("pdfb64:") | F.col("text").startswith("%PDF-")
    if probe_min_bytes > 0:
        probe_pred = probe_pred & (F.length("text") >= probe_min_bytes)
    heavy_rows = (
        df.filter(probe_pred)
        .select("conv_id", "turn_idx", "text")
        .mapInArrow(_probe_batch, schema=_PROBE_SCHEMA)
        .filter(F.col("n_pages") > page_threshold)
        .collect()
    )
    heavy_keys = df.sparkSession.createDataFrame(heavy_rows, _PROBE_SCHEMA)

    seg_pages = F.greatest(
        F.lit(pages_per_seg),
        F.ceil(F.col("n_pages") / F.lit(max_segments_per_doc)).cast("int"),
    )
    segs_in = (
        df.join(F.broadcast(heavy_keys), ["conv_id", "turn_idx"])
        .withColumn("seg_pages", seg_pages)
        .withColumn(
            "p_start",
            F.explode(F.sequence(F.lit(1), F.col("n_pages"), F.col("seg_pages"))),
        )
        .withColumn("p_end", F.col("p_start") + F.col("seg_pages"))
        .withColumn(
            "seg_idx", ((F.col("p_start") - 1) / F.col("seg_pages")).cast("int")
        )
        .drop("seg_pages")
    )
    if num_partitions:
        # spread SEGMENTS (not docs): one huge doc fans out across tasks
        segs_in = segs_in.repartition(
            num_partitions, F.col("conv_id"), F.col("turn_idx"), F.col("seg_idx")
        )
    seg_out = segs_in.mapInArrow(_segment_batch, schema=_SEGMENT_SCHEMA)
    merged = seg_out.groupBy("conv_id", "turn_idx").applyInArrow(
        _merge_group, schema=OUTPUT_SCHEMA
    )

    light = df.join(
        F.broadcast(heavy_keys.select("conv_id", "turn_idx")),
        ["conv_id", "turn_idx"],
        "left_anti",
    )
    light_out = run_extraction(light, num_partitions=num_partitions)
    return light_out.unionByName(merged)
