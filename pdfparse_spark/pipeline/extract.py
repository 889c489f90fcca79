"""The extraction stage: classify → salt/repartition → mapInArrow kernel.

SURVEY.md §2 operators P8 (classify/route), P10 (skew salting), R12
(vectorized kernel).  The kernel chain (P1–P7) runs entirely inside the
Python worker on Arrow record batches — one JVM↔Python crossing per batch,
never per row (BASELINE.json input_hint: "vectorized pandas/Arrow UDFs, no
per-row Python"): the body dictionary-encodes the batch's ``text`` column,
so the kernel runs once per distinct payload of a batch, builds every output
column, ``spans`` included, as a typed Arrow array over those payloads and
fans them back out to the batch's rows with Arrow ``take``; the key columns
pass through as the input Arrow arrays.  No pandas frame and no per-row
converter sits between the kernel and the JVM, and no result outlives its
batch.  The body also installs the per-task zip-cache guard (pyworker.py)
in its worker.

Scale notes (the part Catalyst cannot do for us):
- A 10k-turn conversation must not pin one task.  The kernel is per-turn
  independent, so we salt at TURN granularity: ``repartition(P, conv_id,
  pmod(turn_idx, SALT))`` spreads a hot conv_id over up to SALT partitions
  while keeping the partitioning expression cheap and deterministic.
- ``P`` should be ≥ 4× total cores so stragglers amortize; callers pass it
  explicitly (bench uses 4× cores).
- Column pruning: only (conv_id, turn_idx, role, tool, ts, text) enter the
  Python stage; the fat ``text`` column is dropped on exit, so downstream
  relational ops never re-shuffle payload bytes.
"""

from __future__ import annotations

from collections.abc import Iterator, Iterable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from . import pyworker

__all__ = [
    "DEDUP_KERNEL_SCHEMA",
    "INPUT_COLS",
    "OUTPUT_SCHEMA",
    "SALT",
    "TELEMETRY_SCHEMA",
    "TURN_KEY_COLS",
    "extract_payloads",
    "join_payloads",
    "kernel_arrays",
    "make_extract_batch",
    "payload_frames",
    "payload_key",
    "run_extraction",
    "run_extraction_dedup",
    "salt_repartition",
    "spans_array",
]

# a hot conv_id spreads over up to SALT partitions (salt_repartition)
SALT = 64

# the columns that enter the Python stage (column pruning before the shuffle)
INPUT_COLS = ("conv_id", "turn_idx", "role", "tool", "ts", "text")
# the per-turn identity columns that pass through extraction unchanged
TURN_KEY_COLS = INPUT_COLS[:-1]

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("content_type", T.StringType(), False),
        T.StructField("extracted_text", T.StringType(), True),
        T.StructField(
            "spans",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("page", T.IntegerType(), False),
                        T.StructField("start", T.IntegerType(), False),
                        T.StructField("end", T.IntegerType(), False),
                    ]
                )
            ),
            True,
        ),
        T.StructField("parse_status", T.StringType(), False),
        T.StructField("n_chars", T.IntegerType(), False),
    ]
)


TELEMETRY_SCHEMA = T.StructType(
    OUTPUT_SCHEMA.fields + [T.StructField("kernel_us", T.LongType(), False)]
)


_KERNEL_COLS = ("content_type", "extracted_text", "spans", "parse_status", "n_chars")
_ARROW_TYPES = {f.name: to_arrow_type(f.dataType) for f in TELEMETRY_SCHEMA.fields}


def spans_array(rows: Iterable[Iterable[tuple[int, int, int]]]) -> pa.ListArray:
    """The ``spans`` column as one ``ListArray`` over a ``StructArray``,
    built from flat offset/page/start/end lists: ``rows`` holds one list of
    (page, start, end) per row, as the kernel returns it.  No per-span dict
    is built and no per-row converter runs on the way back to the JVM."""
    offsets, pages, starts, ends = [0], [], [], []
    for spans in rows:
        for p, s, e in spans:
            pages.append(p)
            starts.append(s)
            ends.append(e)
        offsets.append(len(pages))
    spans_type = _ARROW_TYPES["spans"]
    values = pa.StructArray.from_arrays(
        [pa.array(v, pa.int32()) for v in (pages, starts, ends)],
        fields=list(spans_type.value_type),
    )
    return pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), values, type=spans_type)


def kernel_arrays(ctypes: list, texts: list, spans: list, statuses: list) -> list[pa.Array]:
    """The five kernel output columns (``_KERNEL_COLS`` order) as typed
    Arrow arrays; ``n_chars`` is derived from ``texts``."""
    return [
        pa.array(ctypes, _ARROW_TYPES["content_type"]),
        pa.array(texts, _ARROW_TYPES["extracted_text"]),
        spans_array(spans),
        pa.array(statuses, _ARROW_TYPES["parse_status"]),
        pa.array([len(t) for t in texts], _ARROW_TYPES["n_chars"]),
    ]


def make_extract_batch(
    device: str = "simple",
    telemetry: bool = False,
    key_cols: tuple[str, ...] = TURN_KEY_COLS,
):
    """mapInArrow body factory: one parameterized implementation for every
    (layout device, telemetry, key-column) combination.  ``key_cols`` are
    the pass-through identity columns (turn keys for the per-turn path, the
    content hash for the distinct-payload path); they leave as the input
    Arrow arrays, untouched.  The kernel is imported lazily inside the body
    so the module object is constructed once per (reused) Python worker and
    the glyph/AFM tables stay warm.

    Each batch's ``text`` column is dictionary-encoded (NULL is its own
    entry), the kernel runs once per dictionary entry, and the five kernel
    columns are built over the distinct payloads and expanded to the
    batch's rows with ``take(indices)``.  The kernel is a pure function of
    the payload, so repeats within a batch cost one kernel call; nothing is
    kept from one batch to the next.  Dedup across batches and partitions
    is :func:`run_extraction_dedup`'s job.

    ``telemetry=True`` also emits ``kernel_us`` — wall microseconds spent
    in the kernel, measured at the call site inside the worker.  The row
    where a payload first appears in its batch carries that payload's
    kernel time and its repeats carry 0, so sums of ``kernel_us`` (per
    partition, per bucket) are the real kernel time spent.  Per-partition
    sums are the straggler evidence the partition-row-count proxy can't
    give: a partition can hold few rows but one pathological 500-page PDF.
    The ~100 ns perf_counter overhead per payload is noise next to the
    0.1-50 ms kernel cost; telemetry stays opt-in only because the extra
    column changes the output schema.
    """
    names = list(key_cols) + list(_KERNEL_COLS) + (["kernel_us"] if telemetry else [])

    def extract_batch_body(batches: Iterable[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        pyworker.install()
        from time import perf_counter_ns

        from ..kernel.extract import extract_turn, get_device_factory

        factory = get_device_factory(device)
        for batch in batches:
            enc = pc.dictionary_encode(batch.column("text"), null_encoding="encode")
            ctypes, texts, spans, statuses, micros = [], [], [], [], []
            for text in enc.dictionary.to_pylist():
                t0 = perf_counter_ns()
                ctype, extracted, turn_spans, status = extract_turn(text, factory)
                if telemetry:
                    micros.append((perf_counter_ns() - t0) // 1000)
                ctypes.append(ctype)
                texts.append(extracted)
                spans.append(turn_spans)
                statuses.append(status)
            cols = [batch.column(k) for k in key_cols]
            cols += [a.take(enc.indices) for a in kernel_arrays(ctypes, texts, spans, statuses)]
            if telemetry:
                cols.append(_first_occurrence_us(enc.indices, micros))
            yield pa.RecordBatch.from_arrays(cols, names=names)

    return extract_batch_body


def _first_occurrence_us(indices: pa.Array, micros: list[int]) -> pa.Array:
    """The ``kernel_us`` column of a batch: ``micros[code]`` on the row
    where dictionary code ``code`` first appears, 0 on its repeats.  Every
    code of a ``dictionary_encode`` result appears in ``indices``."""
    codes = indices.to_numpy()
    _, first = np.unique(codes, return_index=True)
    us = np.zeros(len(codes), np.int64)
    us[first] = micros
    return pa.array(us, _ARROW_TYPES["kernel_us"])


def salt_repartition(df: DataFrame, num_partitions: int) -> DataFrame:
    """P10: spread hot conv_ids over up to ``SALT`` partitions.

    Hash-partitions on (conv_id, turn_idx mod SALT).  AQE cannot split a
    skewed Python stage, so this explicit repartition is the skew defense.
    """
    return df.repartition(
        num_partitions,
        F.col("conv_id"),
        F.pmod(F.col("turn_idx").cast("int"), F.lit(SALT)),
    )


def run_extraction(
    df: DataFrame,
    num_partitions: int | None = None,
    telemetry: bool = False,
    device: str = "simple",
) -> DataFrame:
    """Full extraction stage over a transcripts DataFrame (input_hint schema).

    ``telemetry=True`` adds per-turn ``kernel_us`` and the executing
    ``part_id`` (``spark_partition_id`` is stable here: mapInArrow is a
    narrow op, so the id is the salted-shuffle partition that did the work).
    Aggregate with :func:`pdfparse_spark.pipeline.metrics.straggler_stats`.
    """
    if telemetry and device != "simple":
        raise ValueError("telemetry supports only the golden device")
    df = df.select(*INPUT_COLS)  # column pruning before the shuffle
    if num_partitions:
        df = salt_repartition(df, num_partitions)
    out = df.mapInArrow(
        make_extract_batch(device, telemetry),
        schema=TELEMETRY_SCHEMA if telemetry else OUTPUT_SCHEMA,
    )
    return out.withColumn("part_id", F.spark_partition_id()) if telemetry else out


def payload_key():
    """THE content-address expression — the single definition every path
    (batch dedup, streaming cache probe, parity gates, tests) must share:
    any divergence between producer and prober keys silently splits the
    cache.  sha2-256 of the payload (64-bit hashes collide at 10^12-turn
    birthday bounds); NULL text takes the 'null' sentinel (4 chars — can
    never collide with 64-hex-char sha output) because sha2(NULL) IS NULL
    would drop those turns from any equi-join."""
    return F.coalesce(F.sha2(F.col("text"), 256), F.lit("null"))


# distinct-payload batch body: input (payload_sha, text) → kernel columns
DEDUP_KERNEL_SCHEMA = T.StructType(
    [T.StructField("payload_sha", T.StringType(), False)]
    + [f for f in OUTPUT_SCHEMA.fields if f.name in _KERNEL_COLS]
)


def payload_frames(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(keyed, uniq): the turns with their ``payload_sha`` added, and the
    distinct (payload_sha, text) payloads — the two inputs of every
    content-addressed path (batch and stream)."""
    keyed = df.select(*INPUT_COLS).withColumn("payload_sha", payload_key())
    uniq = keyed.select("payload_sha", "text").dropDuplicates(["payload_sha"])
    return keyed, uniq


def extract_payloads(uniq: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """The kernel over distinct payloads → ``DEDUP_KERNEL_SCHEMA`` rows,
    repartitioned by content hash (unique by construction, so no salt)."""
    if num_partitions:
        uniq = uniq.repartition(num_partitions, F.col("payload_sha"))
    return uniq.mapInArrow(
        make_extract_batch(key_cols=("payload_sha",)), schema=DEDUP_KERNEL_SCHEMA
    )


def join_payloads(keyed: DataFrame, extracted: DataFrame) -> DataFrame:
    """Every turn of ``keyed`` joined to its payload's extraction: the
    skinny turn keys meet ``DEDUP_KERNEL_SCHEMA`` rows on ``payload_sha``
    and leave in ``OUTPUT_SCHEMA`` column order."""
    out = keyed.drop("text").join(extracted, "payload_sha", "left")
    return out.select(*OUTPUT_SCHEMA.names)


def run_extraction_dedup(
    df: DataFrame,
    num_partitions: int | None = None,
    split_pages: bool = False,
) -> DataFrame:
    """Content-addressed extraction: run the kernel ONCE per distinct
    payload and join the result back to every turn carrying it.  Output
    rows are identical to :func:`run_extraction` (ordering aside) — the
    kernel is a pure function of the payload bytes, so extraction is
    memoizable by content hash.

    This is the right shape for the corpus the metric names — a fixture
    corpus REPLICATED to 10^9+ turns — and for any production transcript
    store where the same attachment/document recurs across conversations:
    kernel cost drops from O(turns) to O(distinct payloads).

    Shuffle accounting vs the plain path (which shuffles the fat text once
    for salting, then runs the kernel on every row):
      1. dropDuplicates(payload_sha) — the ONE fat-text shuffle, with
         map-side partial aggregation shrinking it wherever duplicates
         co-locate in the scan;
      2. the kernel runs over distinct payloads only (repartitioned by
         content hash — unique by construction, so no salt is needed; the
         per-page split path remains the heavy-single-doc defense);
      3. the join back moves only skinny turn keys + extracted output —
         comparable to the stage's output size, never the input payloads.
    On a fully-unique corpus the overhead is one no-op dedup pass; on a
    duplicated one the kernel saving is 1 - distinct_ratio of total work.
    sha2-256 content addressing (not a 64-bit hash: at 10^12 turns a
    64-bit birthday bound makes collisions — i.e. silently WRONG text on
    some turns — expected; 256-bit makes them impossible in practice).
    NULL payloads map to the 'null' sentinel key (sha2 of NULL is NULL,
    which would silently drop those turns in the equi-join).

    ``split_pages=True`` composes the heavy-single-doc defense: the
    distinct payloads run through the per-page-parallel extractor
    (split_extract) under pseudo turn keys (conv_id = content hash), so
    one huge DISTINCT document — which content-hash partitioning alone
    can never split — still fans out into page-range segments.  Its
    heavy-key probe is a Spark job that runs when this function is
    called, not when the returned frame is."""
    keyed, uniq = payload_frames(df)
    if not split_pages:
        return join_payloads(keyed, extract_payloads(uniq, num_partitions))
    from .split_extract import run_extraction_split

    pseudo = uniq.select(
        F.col("payload_sha").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.lit(None).cast("string").alias("role"),
        F.lit(None).cast("string").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
        "text",
    )
    extracted = run_extraction_split(pseudo, num_partitions=num_partitions).select(
        F.col("conv_id").alias("payload_sha"), *_KERNEL_COLS
    )
    return join_payloads(keyed, extracted)
