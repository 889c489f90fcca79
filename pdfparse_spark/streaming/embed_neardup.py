"""Streaming EMBEDDING near-duplicate detection with bounded state
(multi-band random-hyperplane sign-LSH).

The streaming face of the batch ``dedup_embedding_cosine`` operator,
completing the streaming story for the embedding family the way
``neardup.py`` does for MinHash: each incoming vector gets the SAME
8-band/8-bit sign-LSH band keys as the batch op — the identical
constant-folded hyperplane literal and left-fold dot product
(``spark_signbits_expr``), evaluated per row, so the sign decisions
cannot diverge — and candidates meet in a custom stateful operator
keyed by ``band_key`` (``applyInPandasWithState``).

The state for a band bucket is the last ``state_cap`` (vec_id, vector,
nrm) entries that hashed into it.  A new vector is compared by EXACT
cosine against every stored bucket-mate; every candidate pair is
emitted with its UNROUNDED cosine — thresholding and HALF_UP rounding
happen JVM-side at read time (``read_embed_neardup``), exactly like the
batch op rounds before filtering, so a Python ``round()`` (banker's)
can never split from ``F.round``.  The Python dot product folds left
over the same doubles the JVM fold sees, so the cosine is bit-identical
to the batch value (pinned by the replay-parity pytest).

Bounded-state trade, stated honestly: FIFO-evicting ``state_cap``
entries per bucket means a near-dup of something evicted is NOT caught
— the same horizon as the MinHash stream; run the batch op over the
sink for a full-history sweep.  At scale the state store shards by
band_key across executors and per-bucket state is
O(cap * (dim + 2) doubles); the bit count (recommended_signlsh_bits)
keeps expected occupancy — and so per-row comparison work — constant
as the corpus grows.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState

from ..pipeline.artifact import read_stream, start_parquet_sink, state_timeout
from ..pipeline.corpus import EMB_DIM
from ..pipeline.embed import (
    SIGNLSH_BANDS,
    SIGNLSH_BITS,
    spark_bandkeys_expr,
    spark_signbits_expr,
)

__all__ = [
    "EMBED_INPUT_SCHEMA",
    "signlsh_cols",
    "start_stream_embed_neardup",
    "read_embed_neardup",
]

# the embeddings-table shape (TESTDATA.md): the stream ingests the same
# rows the batch op scans
EMBED_INPUT_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType(), True),
        T.StructField("embedding", T.ArrayType(T.FloatType()), True),
        T.StructField("label", T.IntegerType(), True),
    ]
)


def signlsh_cols(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Add ``v`` (double vector), ``nrm`` and ``bands`` (array<int>, the
    8 sign-LSH band keys) computed per row from ``vec_col`` — the
    NON-exploded form of the batch ``signlsh_band_keys``, sharing its
    sign-bit and band-key expression builders so streaming and batch
    keys are the same expression tree over the same doubles."""
    if not vec_col.isidentifier():
        raise ValueError("vec_col must be a plain column name: %r" % vec_col)
    clash = {"v", "nrm", "_sb", "bands"} - {vec_col} & set(df.columns)
    if clash:
        raise ValueError(
            "signlsh_cols scratch/output column collision: %s" % sorted(clash)
        )
    return (
        df.withColumn(
            "v", F.expr("transform(%s, x -> CAST(x AS DOUBLE))" % vec_col)
        )
        .withColumn(
            "nrm",
            F.expr(
                "sqrt(aggregate(transform(v, x -> x * x), 0D, (acc, x) -> acc + x))"
            ),
        )
        .withColumn(
            "_sb",
            F.expr(spark_signbits_expr(SIGNLSH_BANDS, SIGNLSH_BITS, EMB_DIM)),
        )
        .withColumn(
            "bands", F.expr(spark_bandkeys_expr(SIGNLSH_BANDS, SIGNLSH_BITS))
        )
        .drop("_sb")
    )


_PAIR_OUT_SCHEMA = T.StructType(
    [
        T.StructField("vec_a", T.LongType(), False),
        T.StructField("vec_b", T.LongType(), False),
        T.StructField("cos_raw", T.DoubleType(), False),
    ]
)

# flattened bounded FIFO: ids[k] owns vecs[k*dim:(k+1)*dim] and nrms[k]
_PAIR_STATE_SCHEMA = T.StructType(
    [
        T.StructField("ids", T.ArrayType(T.LongType()), False),
        T.StructField("vecs", T.ArrayType(T.DoubleType()), False),
        T.StructField("nrms", T.ArrayType(T.DoubleType()), False),
    ]
)


def _make_bucket_updater(state_cap: int, state_ttl_ms: int, dim: int):
    def _update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            yield pd.DataFrame({"vec_a": [], "vec_b": [], "cos_raw": []}).astype(
                {"vec_a": "int64", "vec_b": "int64", "cos_raw": float}
            )
            return
        if state.exists:
            ids, flat, nrms = state.get
            ids = [int(x) for x in ids]
            nrms = [float(x) for x in nrms]
            vecs = [
                [float(x) for x in flat[k * dim : (k + 1) * dim]]
                for k in range(len(ids))
            ]
        else:
            ids, vecs, nrms = [], [], []
        rows = []
        for pdf in pdfs:
            rows.extend(
                (int(r.vec_id), [float(x) for x in r.v], float(r.nrm))
                for r in pdf.itertuples(index=False)
                # length guard (belt to the plan-side braces): a wrong-dim
                # vector entering the flattened state would misalign the
                # k*dim slices of EVERY later bucket-mate — silent garbage
                if len(r.v) == dim
            )
        rows.sort(key=lambda t: t[0])  # deterministic arrival order
        out_a, out_b, out_c = [], [], []
        for rid, v, nrm in rows:
            for sid, sv, snrm in zip(ids, vecs, nrms):
                # left-fold dot over the same doubles the JVM fold sees:
                # bit-identical to the batch DOT aggregate
                acc = 0.0
                for x, y in zip(sv, v):
                    acc += x * y
                den = snrm * nrm
                # zero-norm vectors: the JVM division yields NaN where
                # Python raises ZeroDivisionError — a poison record would
                # otherwise wedge the stream (replayed from checkpoint on
                # every restart).  Emit NaN, exactly the batch value.
                cos = acc / den if den != 0.0 else float("nan")
                # emit EVERY candidate pair unrounded; the reader rounds
                # HALF_UP and thresholds JVM-side, matching the batch op
                a, b = (sid, rid) if sid < rid else (rid, sid)
                out_a.append(a)
                out_b.append(b)
                out_c.append(cos)
            ids.append(rid)
            vecs.append(v)
            nrms.append(nrm)
            if len(ids) > state_cap:
                ids = ids[-state_cap:]
                vecs = vecs[-state_cap:]
                nrms = nrms[-state_cap:]
        state.update((ids, [x for v in vecs for x in v], nrms))
        if state_ttl_ms:
            state.setTimeoutDuration(state_ttl_ms)
        yield pd.DataFrame({"vec_a": out_a, "vec_b": out_b, "cos_raw": out_c})

    return _update


def start_stream_embed_neardup(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    state_cap: int = 64,
    state_ttl_minutes: int | None | str = "auto",
    max_files_per_trigger: int = 1,
    available_now: bool = True,
):
    """Stream embedding parquet drops through sign-LSH near-dup
    detection; the parquet sink gets one row per (candidate pair, band)
    with the exact unrounded cosine — read the thresholded, deduplicated
    pair view with :func:`read_embed_neardup`.

    State is doubly bounded, exactly like the MinHash stream:
    ``state_cap`` vectors per band bucket (FIFO) and
    ``state_ttl_minutes`` of processing-time idleness per bucket.
    ``"auto"`` resolves to 60 minutes for a long-running stream and to
    ``None`` for an availableNow backfill (pending timers would keep a
    finite backfill alive past the last batch)."""
    stream = read_stream(spark, EMBED_INPUT_SCHEMA, input_dir, max_files_per_trigger)
    banded = (
        signlsh_cols(stream)
        # dim guard: a short/long embedding would still hash (zip_with
        # null-pads) but would corrupt the flattened fixed-stride state
        .filter(F.size("v") == EMB_DIM)
        .select("vec_id", "v", "nrm", F.explode("bands").alias("band_key"))
    )
    ttl_ms, timeout = state_timeout(state_ttl_minutes, available_now)
    pairs = banded.groupBy("band_key").applyInPandasWithState(
        _make_bucket_updater(state_cap, ttl_ms, EMB_DIM),
        outputStructType=_PAIR_OUT_SCHEMA,
        stateStructType=_PAIR_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )
    return start_parquet_sink(pairs, out_dir, checkpoint_dir, available_now)


def read_embed_neardup(
    spark: SparkSession, out_dir: str, tau: float = 0.3
) -> DataFrame:
    """(vec_a, vec_b, cos_sim) near-dup pairs over the band-pair sink:
    HALF_UP rounding + threshold + distinct, all JVM-side — the same
    round-then-filter the batch op applies, so the pair set and cosine
    values replay bit-identical to ``dedup_embedding_cosine`` (pinned in
    pytest) whenever nothing aged out of the FIFO/TTL horizon."""
    raw = spark.read.parquet(out_dir)
    return (
        raw.withColumn("cos_sim", F.round(F.col("cos_raw"), 4))
        .filter(F.col("cos_sim") >= tau)
        .select("vec_a", "vec_b", "cos_sim")
        .distinct()
    )
