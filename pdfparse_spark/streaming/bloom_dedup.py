"""Streaming exact deduplication with FIXED-SIZE state (sharded Bloom).

The streaming face of the batch ``dedup_bloom_prior`` operator, and the
constant-memory alternative to ``dedup.py``'s
``dropDuplicatesWithinWatermark``: that operator stores one state row per
DISTINCT key inside the watermark horizon, which at 10^12-turn scale is
still terabytes of state store for a wide horizon.  Here the seen-set is a
Bloom filter sharded into ``n_groups`` buckets — total state is
``n_groups × bits_per_group / 8`` bytes, FIXED for the life of the stream,
at the price of a small false-positive rate (a non-duplicate flagged as
dup) that grows with the number of distinct texts inserted per group.

Split of labor, same discipline as neardup.py: the k bit positions are
computed PER ROW by JVM expressions (xxhash64 family — stateless,
whole-stage-codegen'd), rows route to their shard by a hash of the text
(so every occurrence of a text meets the same bitset), and the stateful
stage (``applyInPandasWithState`` keyed by shard) only tests/sets integer
bit positions — no hashing in Python, so there is no Python/JVM hash
parity surface at all.

Bounded-state trade, stated honestly: Bloom bits are never individually
evicted, so the false-positive rate rises as distinct texts accumulate;
size ``bits_per_group ≈ 1.44 · expected_distinct_per_group · log2(1/fp)``
for the target rate, and use the optional idle-shard TTL to reset shards
on streams with rotating key populations.  False NEGATIVES cannot happen
(bits are only ever set).  The verdict sink records every turn with its
``bloom_hit`` flag; run the batch op for an exact full-history sweep.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState

from ..pipeline.artifact import read_stream, start_parquet_sink, state_timeout
from ..pipeline.transcripts import INPUT_SCHEMA

__all__ = ["bloom_pos_cols", "start_stream_bloom_dedup", "read_bloom_verdicts"]

_GROUPS = 64
_BITS_PER_GROUP = 1 << 11  # 2048 bits = 32 longs = 256 B state per shard
_K = 3


def bloom_pos_cols(
    df: DataFrame,
    text_col: str = "text",
    n_groups: int = _GROUPS,
    bits_per_group: int = _BITS_PER_GROUP,
) -> DataFrame:
    """Add ``grp`` (shard key: hash of the text — all occurrences of a
    text land on one shard/bitset) and ``pos`` (array<long>, the k bit
    positions within the shard's filter), both pure JVM expressions."""
    col = F.col(text_col)
    grp = F.pmod(F.xxhash64(F.lit("bloomgrp"), col), F.lit(n_groups))
    pos = F.array(
        *[
            F.pmod(F.xxhash64(F.lit(f"bloomstream:{i}"), col), F.lit(bits_per_group))
            for i in range(_K)
        ]
    )
    return df.withColumn("grp", grp).withColumn("pos", pos)


_OUT_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("grp", T.LongType(), False),
        T.StructField("bloom_hit", T.IntegerType(), False),
    ]
)

# the shard's bitset as fixed-length signed 64-bit words
_STATE_SCHEMA = T.StructType(
    [T.StructField("words", T.ArrayType(T.LongType()), False)]
)


def _make_bloom_updater(bits_per_group: int, state_ttl_ms: int):
    n_words = bits_per_group // 64

    def _update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (grp,) = key
        if state.hasTimedOut:
            # idle shard: reset its filter (rotating-population streams);
            # the empty frame keeps the output contract uniform
            state.remove()
            yield pd.DataFrame({"id": [], "grp": [], "bloom_hit": []}).astype(
                {"id": str, "grp": "int64", "bloom_hit": "int32"}
            )
            return
        bitset = 0
        if state.exists:
            (words,) = state.get
            for w_i, w in enumerate(words):
                bitset |= (w & ((1 << 64) - 1)) << (64 * w_i)
        rows = []
        for pdf in pdfs:
            rows.extend(
                # int() strips numpy scalars before they reach state/output
                (r.ts, r.id, [int(x) for x in r.pos])
                for r in pdf.itertuples(index=False)
            )
        rows.sort(key=lambda t: (t[0], t[1]))  # deterministic arrival order
        out_id, out_hit = [], []
        for _, rid, pos in rows:
            hit = all((bitset >> p) & 1 for p in pos)
            for p in pos:
                bitset |= 1 << p
            out_id.append(rid)
            out_hit.append(1 if hit else 0)
        words = []
        for w_i in range(n_words):
            w = (bitset >> (64 * w_i)) & ((1 << 64) - 1)
            words.append(w - (1 << 64) if w >= (1 << 63) else w)
        state.update((words,))
        if state_ttl_ms:
            state.setTimeoutDuration(state_ttl_ms)
        yield pd.DataFrame(
            {"id": out_id, "grp": [grp] * len(out_id), "bloom_hit": out_hit}
        )

    return _update


def start_stream_bloom_dedup(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    n_groups: int = _GROUPS,
    bits_per_group: int = _BITS_PER_GROUP,
    state_ttl_minutes: int | None | str = "auto",
    max_files_per_trigger: int = 1,
    available_now: bool = True,
):
    """Stream transcript parquet drops through sharded-Bloom exact dedup;
    the parquet sink gets one (id, grp, bloom_hit) verdict per non-null
    text turn.  NULL-text turns (tool calls) carry nothing to dedup and
    are skipped, exactly like ``dedup_stream``'s null passthrough.

    ``state_ttl_minutes`` bounds IDLE shards the same way neardup.py's
    band TTL does; ``"auto"`` = None for an availableNow backfill (pending
    timers would hold the finite query open), 60 for a long-lived stream.
    """
    if bits_per_group % 64:
        raise ValueError("bits_per_group must be a multiple of 64")
    stream = read_stream(spark, INPUT_SCHEMA, input_dir, max_files_per_trigger)
    narrow = (
        bloom_pos_cols(stream, n_groups=n_groups, bits_per_group=bits_per_group)
        .filter(F.col("text").isNotNull())
        .withColumn("id", F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string")))
        .select("id", "ts", "grp", "pos")
    )
    ttl_ms, timeout = state_timeout(state_ttl_minutes, available_now)
    verdicts = narrow.groupBy("grp").applyInPandasWithState(
        _make_bloom_updater(bits_per_group, ttl_ms),
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )
    return start_parquet_sink(verdicts, out_dir, checkpoint_dir, available_now)


def read_bloom_verdicts(spark: SparkSession, out_dir: str) -> DataFrame:
    """(id, grp, bloom_hit) per turn from the verdict sink."""
    return spark.read.parquet(out_dir)
