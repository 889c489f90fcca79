"""Watermarked streaming sessionization over the extraction stream.

The streaming face of the batch session ops (relational.events_sessionize /
events_session_window): per-conversation activity sessions via Spark's
native ``session_window`` — a dynamic-gap window that keeps absorbing turns
while they arrive within ``gap`` of the session's current end, and closes
(emits, in append mode) once the watermark passes end + gap.

Scale notes: state per key = ONE open session row per active conversation
(session_window merges in place, unlike tumbling windows which hold one row
per window per key); the watermark delay bounds how long a quiet session
lingers.  This is the canonical "conversation boundary detection" job on an
unbounded transcript stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pipeline.artifact import read_stream, start_parquet_sink
from ..pipeline.extract import OUTPUT_SCHEMA

__all__ = ["conv_sessions", "start_conv_sessions"]


def conv_sessions(
    extracted,
    gap: str = "5 minutes",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Per-conversation session aggregation (streaming OR batch input —
    the batch form is the test oracle; same expression)."""
    return (
        extracted.withWatermark("ts", watermark_delay)
        .groupBy("conv_id", F.session_window("ts", gap).alias("sess"))
        .agg(
            F.count("*").alias("n_turns"),
            F.sum("n_chars").alias("total_chars"),
            F.sum(F.when(F.col("parse_status") == "ok", 1).otherwise(0)).alias("n_ok"),
        )
        .select(
            "conv_id",
            F.col("sess.start").alias("sess_start"),
            F.col("sess.end").alias("sess_end"),
            "n_turns",
            "total_chars",
            "n_ok",
        )
    )


def start_conv_sessions(
    spark: SparkSession,
    extracted_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    gap: str = "5 minutes",
    watermark_delay: str = "10 minutes",
    available_now: bool = True,
    max_files_per_trigger: int = 1,
):
    """Stream extraction output (parquet drops) into closed sessions.

    Append mode: a session row is emitted exactly once, when the watermark
    passes session end + gap (no new turn can extend it).  As with
    windowed.py, the watermark advances BETWEEN micro-batches only, so
    backfills keep ``maxFilesPerTrigger=1``.
    """
    stream = read_stream(spark, OUTPUT_SCHEMA, extracted_dir, max_files_per_trigger)
    sessions = conv_sessions(stream, gap, watermark_delay)
    return start_parquet_sink(sessions, out_dir, checkpoint_dir, available_now)
