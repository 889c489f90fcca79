"""Watermarked event-time windowed aggregation over the extraction stream.

Completes the streaming triad (ingestion: stream_extract.py, custom
stateful: stateful.py, windowed+watermark: here).  The aggregation is the
streaming form of the batch throughput metrics (metrics.py R5): per
tumbling event-time window and content type, turn/char counts — with a
watermark so late turns are folded in until the window closes, then
dropped, keeping state bounded on an unbounded stream.

Scale notes: state size = (#open windows x #content types) rows — constant
in input rate; the watermark delay is the only memory knob.  In append
output mode a window emits exactly once, when the watermark passes its
end, which is what an idempotent downstream sink wants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pipeline.artifact import read_stream, start_parquet_sink
from ..pipeline.extract import OUTPUT_SCHEMA

__all__ = ["windowed_turn_stats", "start_windowed_stats"]


def windowed_turn_stats(
    extracted,
    window_duration: str = "1 minute",
    watermark_delay: str = "2 minutes",
) -> DataFrame:
    """Watermarked tumbling-window aggregation over extraction output.

    Works on a streaming OR batch DataFrame with OUTPUT_SCHEMA (the batch
    form is the test oracle: same expression, no watermark semantics
    needed when the input is finite).
    """
    return (
        extracted.withWatermark("ts", watermark_delay)
        .groupBy(F.window("ts", window_duration).alias("win"), "content_type")
        .agg(
            F.count("*").alias("n_turns"),
            F.sum("n_chars").alias("total_chars"),
            F.sum(F.when(F.col("parse_status") == "ok", 1).otherwise(0)).alias("n_ok"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "content_type",
            "n_turns",
            "total_chars",
            "n_ok",
        )
    )


def start_windowed_stats(
    spark: SparkSession,
    extracted_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    window_duration: str = "1 minute",
    watermark_delay: str = "2 minutes",
    available_now: bool = True,
    max_files_per_trigger: int = 1,
):
    """Stream extraction output (parquet drops) into windowed stats.

    Append mode: each (window, content_type) row is final when emitted —
    the watermark has passed the window end, so late data can no longer
    change it.  The watermark only advances BETWEEN micro-batches, so
    ``max_files_per_trigger`` defaults to 1: a single mega-batch over a
    backfill would emit nothing before the query drains.
    """
    stream = read_stream(spark, OUTPUT_SCHEMA, extracted_dir, max_files_per_trigger)
    stats = windowed_turn_stats(stream, window_duration, watermark_delay)
    return start_parquet_sink(stats, out_dir, checkpoint_dir, available_now)
