"""Custom stateful streaming operator: per-conversation running aggregates
via ``applyInPandasWithState`` (Arrow-batched, grouped state).

Tracks, per conv_id, the running turn count / extracted-char count / ok
count across micro-batches — the streaming face of the ledger metrics.  The
state store lives under the streaming checkpoint, so a restart resumes the
counts exactly (pinned by tests/test_streaming.py).

Scale notes: state is keyed by conv_id — the same key the batch pipeline
buckets by — so a 1000-executor cluster shards the state store evenly;
watermarking is unnecessary for CORRECTNESS (transcripts are append-only
per conversation and the aggregate is monotone), but state SIZE needs the
``state_ttl_minutes`` eviction knob on a long-running stream — see
start_conv_stats_stream.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd

from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState

from ..pipeline.artifact import read_stream, start_parquet_sink, state_timeout
from ..pipeline.extract import run_extraction
from ..pipeline.transcripts import INPUT_SCHEMA

__all__ = ["start_conv_stats_stream", "CONV_STATS_SCHEMA"]

CONV_STATS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("n_turns", T.LongType(), False),
        T.StructField("n_chars", T.LongType(), False),
        T.StructField("n_ok", T.LongType(), False),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_turns", T.LongType(), False),
        T.StructField("n_chars", T.LongType(), False),
        T.StructField("n_ok", T.LongType(), False),
    ]
)


def _make_conv_stats_updater(state_ttl_ms: int):
    def _update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (conv_id,) = key
        if state.hasTimedOut:
            # conversation idle past the TTL: evict its counters — bounds
            # state-store size to ACTIVE conversations instead of every
            # conv_id the stream has ever seen.  The sink keeps the
            # pre-eviction maxima; a turn arriving AFTER eviction restarts
            # the running totals (trade documented in
            # start_conv_stats_stream).
            state.remove()
            yield pd.DataFrame(
                {"conv_id": [], "n_turns": [], "n_chars": [], "n_ok": []}
            ).astype({"conv_id": str, "n_turns": "int64",
                      "n_chars": "int64", "n_ok": "int64"})
            return
        n_turns, n_chars, n_ok = state.get if state.exists else (0, 0, 0)
        for pdf in pdfs:
            n_turns += len(pdf)
            n_chars += int(pdf["n_chars"].sum())
            n_ok += int((pdf["parse_status"] == "ok").sum())
        state.update((n_turns, n_chars, n_ok))
        if state_ttl_ms:
            state.setTimeoutDuration(state_ttl_ms)
        yield pd.DataFrame(
            {"conv_id": [conv_id], "n_turns": [n_turns],
             "n_chars": [n_chars], "n_ok": [n_ok]}
        )

    return _update


def start_conv_stats_stream(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    state_ttl_minutes: int | None = None,
):
    """readStream → extraction → stateful per-conv aggregate → parquet.

    Each micro-batch emits one row per touched conversation with its
    RUNNING totals (operator mode append — required by the file sink); the
    parquet sink keeps history, so the max/latest row per conv_id is the
    live value, exactly like reading a CDC log.

    ``state_ttl_minutes`` bounds the state store to ACTIVE conversations:
    without it, one state row per conv_id ever seen is kept forever — an
    unbounded-distinct-keys leak on a long-running stream.  The trade,
    stated honestly: a conversation resuming AFTER its TTL eviction
    restarts its running totals from zero (its pre-eviction maxima remain
    in the sink; an exact full-history count then needs a batch
    aggregation over the raw turns).  Default None keeps exact running
    totals (and lets availableNow backfills terminate — pending timers
    hold the query open past the last input batch)."""
    stream = read_stream(spark, INPUT_SCHEMA, input_dir)
    extracted = run_extraction(stream)
    ttl_ms, timeout = state_timeout(state_ttl_minutes, available_now)
    stats = extracted.select(
        "conv_id", "n_chars", "parse_status"
    ).groupBy("conv_id").applyInPandasWithState(
        _make_conv_stats_updater(ttl_ms),
        outputStructType=CONV_STATS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )
    return start_parquet_sink(stats, out_dir, checkpoint_dir, available_now)
