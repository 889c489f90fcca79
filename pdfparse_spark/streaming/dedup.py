"""Streaming exact deduplication with bounded state.

The streaming face of the batch ``dedup_exact`` operator: drop turns whose
``sha2(text)`` was already seen, keeping dedup state only as long as the
watermark allows.  ``dropDuplicatesWithinWatermark`` is the Spark-native
operator for exactly this: state for a key is evicted once the watermark
passes its event time + delay, so an unbounded stream doesn't accumulate
an unbounded seen-set — the delay is the dedup horizon (duplicates farther
apart than the watermark delay are NOT caught; that's the bounded-state
trade every streaming dedup makes; run the batch op over the sink for a
full-history sweep).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pipeline.artifact import read_stream, start_parquet_sink
from ..pipeline.transcripts import INPUT_SCHEMA

__all__ = ["dedup_stream", "start_stream_dedup"]


def dedup_stream(transcripts, watermark_delay: str = "10 minutes") -> DataFrame:
    """Exact-dedup a (streaming or batch) transcripts DataFrame on the
    text hash.  On a batch frame the watermark is a no-op and this is
    plain dropDuplicates — the test oracle.

    NULL-text turns (tool-call turns carry no text) pass through
    un-deduplicated: sha2(NULL) is NULL, and both dropDuplicates variants
    group NULL keys together — without the split, every null-text turn
    after the first in a window would be silently dropped."""
    hashed = transcripts.withColumn("text_hash", F.sha2(F.col("text"), 256))
    if hashed.isStreaming:
        hashed = hashed.withWatermark("ts", watermark_delay)
        with_text = hashed.filter(F.col("text").isNotNull())
        deduped = with_text.dropDuplicatesWithinWatermark(["text_hash"])
    else:
        with_text = hashed.filter(F.col("text").isNotNull())
        deduped = with_text.dropDuplicates(["text_hash"])
    return deduped.unionByName(hashed.filter(F.col("text").isNull()))


def start_stream_dedup(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark_delay: str = "10 minutes",
    max_files_per_trigger: int = 1,
    available_now: bool = True,
):
    """Stream transcript parquet drops through watermarked exact dedup."""
    stream = read_stream(spark, INPUT_SCHEMA, input_dir, max_files_per_trigger)
    deduped = dedup_stream(stream, watermark_delay)
    return start_parquet_sink(deduped, out_dir, checkpoint_dir, available_now)
