"""Streaming NEAR-duplicate detection with bounded state (MinHash-LSH).

The streaming face of the batch ``dedup_minhash_lsh`` operator: each
incoming turn gets the SAME 32-permutation MinHash signature and 8 LSH
band keys as the batch op (identical xxhash64 family and shingle
construction — pinned by ``test_streaming_bands_match_batch``), but
computed PER ROW with higher-order functions (``transform`` +
``array_min`` over the shingle array) instead of an explode + groupBy —
stateless, whole-stage-codegen'd, no shuffle before the stateful stage.

Detection is a custom stateful operator keyed by ``band_key``
(``applyInPandasWithState``): the state for a band bucket is the last
``state_cap`` (id, signature) entries that hashed into it.  A new turn is
a near-duplicate if its signature agrees with a stored one on >= the
threshold fraction of the 32 components (the standard unbiased Jaccard
estimate).  The stateful stage emits one verdict row per (turn, band)
to a native parquet sink; ``read_neardup_verdicts`` folds them to one
row per turn at read time — equivalent to an in-stream fold (a turn's
band rows always share its single arrival micro-batch, so no fold ever
crosses a batch boundary) without a second stateful operator or a
Python callback in the sink path.

Bounded-state trade, stated honestly: FIFO-evicting ``state_cap``
entries per bucket means a duplicate of something evicted (> cap
near-identical docs hashing to one band bucket between occurrences) is
NOT caught — the streaming analogue of the exact-dedup watermark
horizon (dedup.py); run the batch op over the sink for a full-history
sweep.  At scale the state store shards by band_key across executors,
and per-bucket state is O(cap * 32 longs).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState

from ..pipeline.artifact import read_stream, start_parquet_sink, state_timeout
from ..pipeline.corpus import SHINGLES, TOKS_T
from ..pipeline.textdedup import LSH_BANDS, MINHASH_PERMS
from ..pipeline.transcripts import INPUT_SCHEMA

__all__ = [
    "minhash_cols",
    "fold_band_verdicts",
    "read_neardup_verdicts",
    "start_stream_neardup",
]

_ROWS_PER_BAND = MINHASH_PERMS // LSH_BANDS


def minhash_cols(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add ``sig`` (array<long>, 32 MinHash components) and ``bands``
    (array<long>, 8 LSH band keys) computed per row from ``text_col``.

    Bit-identical to the batch signature/band pipeline in
    ``textdedup.dedup_minhash_lsh`` (same shingles, same
    ``xxhash64(i, xxhash64(shingle))`` family, same band hash): the
    per-row ``array_min(transform(...))`` is the HOF form of the batch
    explode + ``groupBy.agg(min(...))`` over the identical distinct
    shingle set.  Rows with fewer than 3 tokens have no shingles:
    ``sig``/``bands`` are null and ``has_sig`` is false (the batch op
    drops them the same way — no shingle rows, no signature).
    """
    if not text_col.isidentifier():
        raise ValueError("text_col must be a plain column name: %r" % text_col)
    reserved = {"arr", "_shs", "_hs", "has_sig", "sig", "bands"}
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(
            "minhash_cols scratch/output column name collision: %s — "
            "rename or drop these input columns first" % sorted(clash)
        )
    toks = TOKS_T.format(col=text_col)
    sig_items = ", ".join(
        "array_min(transform(_hs, h -> xxhash64(%d, h)))" % i
        for i in range(MINHASH_PERMS)
    )
    out = (
        df.withColumn("arr", F.expr(toks))
        .withColumn("_shs", F.expr(SHINGLES))
        .withColumn("has_sig", F.size("_shs") > 0)
        .withColumn(
            "_hs", F.expr("transform(_shs, s -> xxhash64(s))")
        )
        .withColumn(
            "sig", F.when(F.col("has_sig"), F.expr("array(%s)" % sig_items))
        )
    )
    band_items = [
        F.xxhash64(
            F.lit(b),
            *[
                F.element_at("sig", b * _ROWS_PER_BAND + r + 1)
                for r in range(_ROWS_PER_BAND)
            ],
        )
        for b in range(LSH_BANDS)
    ]
    return out.withColumn(
        "bands", F.when(F.col("has_sig"), F.array(*band_items))
    ).drop("arr", "_shs", "_hs")


def _fence_sig_bands(df: DataFrame) -> DataFrame:
    """Materialization fence between the signature HOF pipeline and any
    downstream ``explode``: Catalyst's expression rewriting around a
    Generate substitutes the DEFINING expressions of the exploded and
    referenced columns into the plan wherever they are consumed,
    re-evaluating the whole tokenize→shingle→hash chain dozens of times
    per row (measured: the explode plan grows to 800k chars / 48x
    duplicated xxhash64 nodes, and 100 docs take 200s instead of 4s —
    batch and streaming alike).  Neither ``repartition`` (projections
    push through) nor a scalar pandas-UDF wrapper (substitution happens
    before Python-UDF extraction) stops it.  A ``mapInPandas`` identity
    does: it is its own LOGICAL operator with fixed output attributes,
    so no rule can substitute expressions across it — ``sig``/``bands``
    are computed exactly once per row below the fence, at the cost of
    one Arrow round trip of the narrow (id, ts, sig, bands) rows."""

    def _ident(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        yield from batches

    return df.mapInPandas(_ident, schema=df.schema)


_BAND_OUT_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("band_key", T.LongType(), False),
        T.StructField("match_id", T.StringType(), False),
        T.StructField("est_j", T.DoubleType(), False),
    ]
)

# flattened bounded FIFO: ids[k] owns sigs[k*32:(k+1)*32]
_BAND_STATE_SCHEMA = T.StructType(
    [
        T.StructField("ids", T.ArrayType(T.StringType()), False),
        T.StructField("sigs", T.ArrayType(T.LongType()), False),
    ]
)


def _make_band_updater(state_cap: int, state_ttl_ms: int):
    def _update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (band_key,) = key
        if state.hasTimedOut:
            # idle bucket: drop its entries entirely.  The FIFO cap bounds
            # per-bucket state; this TTL bounds the NUMBER of live buckets
            # (band keys are hashes — over an unbounded stream, unbounded
            # distinct buckets would otherwise accumulate forever).
            state.remove()
            yield pd.DataFrame(
                {"id": [], "band_key": [], "match_id": [], "est_j": []}
            ).astype({"id": str, "band_key": "int64", "match_id": str, "est_j": float})
            return
        if state.exists:
            ids, flat = state.get
            ids = list(ids)
            sigs = [list(flat[k * MINHASH_PERMS : (k + 1) * MINHASH_PERMS]) for k in range(len(ids))]
        else:
            ids, sigs = [], []
        rows = []
        for pdf in pdfs:
            rows.extend(
                # int() strips numpy scalar types — state round-trips
                # through the JVM row pickler, which rejects numpy.int64
                (r.ts, r.id, [int(x) for x in r.sig])
                for r in pdf.itertuples(index=False)
            )
        rows.sort(key=lambda t: (t[0], t[1]))  # deterministic arrival order
        out_id, out_match, out_est = [], [], []
        for _, rid, sig in rows:
            # record the best estimate UNCONDITIONALLY (no threshold gate):
            # the sink then carries the true per-band maximum, so a reader
            # may re-threshold in either direction (fold_band_verdicts)
            best_est, best_id = -1.0, ""
            for sid, ssig in zip(ids, sigs):
                est = sum(a == b for a, b in zip(sig, ssig)) / MINHASH_PERMS
                if est > best_est or (est == best_est and sid < best_id):
                    best_est, best_id = est, sid
            out_id.append(rid)
            out_match.append(best_id)
            out_est.append(best_est)
            ids.append(rid)
            sigs.append(sig)
            if len(ids) > state_cap:
                ids = ids[-state_cap:]
                sigs = sigs[-state_cap:]
        state.update((ids, [x for s in sigs for x in s]))
        if state_ttl_ms:
            state.setTimeoutDuration(state_ttl_ms)
        yield pd.DataFrame(
            {
                "id": out_id,
                "band_key": [band_key] * len(out_id),
                "match_id": out_match,
                "est_j": out_est,
            }
        )

    return _update


def fold_band_verdicts(band_rows: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Collapse per-band verdict rows to one row per doc: a doc is a
    near-dup if its best stored-signature agreement reaches ``threshold``;
    ties keep the highest-estimate, then lexicographically FIRST match
    (min over (-est_j, match_id) — the same tie-break the band updater
    applies within a bucket).  Because the sink stores the true best
    estimate per band (not thresholded), the threshold here may be
    either tighter or looser than the one the stream ran with."""
    m = F.min(F.struct((-F.col("est_j")).alias("neg"), F.col("match_id"))).alias("m")
    return (
        band_rows.groupBy("id")
        .agg(m)
        .select("id", (-F.col("m.neg")).alias("best_est"), F.col("m.match_id").alias("best_id"))
        .select(
            "id",
            (F.col("best_est") >= threshold).alias("is_dup"),
            F.when(F.col("best_est") >= threshold, F.col("best_id")).alias("dup_of"),
            F.when(F.col("best_est") >= threshold, F.round(F.col("best_est"), 4)).alias("est_j"),
        )
    )


def start_stream_neardup(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.5,
    state_cap: int = 8,
    state_ttl_minutes: int | None | str = "auto",
    max_files_per_trigger: int = 1,
    available_now: bool = True,
):
    """Stream transcript parquet drops through MinHash-LSH near-dup
    detection; the parquet sink gets one verdict row per (turn, band) for
    every turn that produced a signature (turns with < 3 tokens have
    nothing to near-dup against and are skipped, exactly like the batch
    op) — read the folded per-turn result with ``read_neardup_verdicts``.
    ``threshold`` only sets the default fold cut-off: the sink stores the
    true best estimate per band, so readers may re-threshold either way.

    State is doubly bounded: ``state_cap`` entries per band bucket
    (FIFO) and ``state_ttl_minutes`` of processing-time idleness per
    bucket (ProcessingTimeTimeout eviction) — without the TTL the set of
    LIVE buckets grows with every distinct band key the stream ever
    produces.  ``None`` disables eviction (NoTimeout).  The default
    ``"auto"`` resolves to 60 minutes for a long-running stream and to
    ``None`` for an availableNow backfill — pending timers would
    otherwise keep a finite backfill query alive past the last input
    batch."""
    stream = read_stream(spark, INPUT_SCHEMA, input_dir, max_files_per_trigger)
    narrow = (
        minhash_cols(stream)
        .filter(F.col("has_sig"))
        .withColumn("id", F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string")))
        .select("id", "ts", "sig", "bands")
    )
    banded = _fence_sig_bands(narrow).select(
        "id", "ts", "sig", F.explode("bands").alias("band_key")
    )
    ttl_ms, timeout = state_timeout(state_ttl_minutes, available_now)
    verdicts = banded.groupBy("band_key").applyInPandasWithState(
        _make_band_updater(state_cap, ttl_ms),
        outputStructType=_BAND_OUT_SCHEMA,
        stateStructType=_BAND_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )
    return start_parquet_sink(verdicts, out_dir, checkpoint_dir, available_now)


def read_neardup_verdicts(
    spark: SparkSession, out_dir: str, threshold: float = 0.5
) -> DataFrame:
    """Per-turn (id, is_dup, dup_of, est_j) view over the band-verdict
    sink written by :func:`start_stream_neardup`."""
    return fold_band_verdicts(spark.read.parquet(out_dir), threshold)
