"""Match-rate / throughput aggregates over extraction output (R5, R14)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["match_rate", "content_type_stats", "join_golden", "straggler_stats"]


def join_golden(extracted: DataFrame, golden: DataFrame) -> DataFrame:
    """Per-turn equality vs golden under stable (conv_id, turn_idx) keys (R3).

    Broadcast the golden side when it is small (test corpora); at 10^12-turn
    scale both sides are huge and this becomes a sort-merge join on the same
    (conv_id, turn_idx) key the output is already bucketed by.
    """
    g = golden.select(
        "conv_id",
        "turn_idx",
        F.col("content_type").alias("golden_content_type"),
        "golden_text",
        "golden_status",
    )
    # LEFT join from the golden side: an inner join would let a row-loss
    # regression (extraction silently dropping turns) shrink the
    # denominator and still report rate=1.0 — a dropped golden turn must
    # count as a mismatch, not vanish from the metric
    joined = g.join(extracted, ["conv_id", "turn_idx"], "left")
    return joined.withColumn(
        "match",
        F.coalesce(
            (F.col("extracted_text").eqNullSafe(F.col("golden_text")))
            & (F.col("content_type") == F.col("golden_content_type"))
            & (F.col("parse_status") == F.col("golden_status")),
            F.lit(False),
        ),
    )


def match_rate(joined: DataFrame) -> DataFrame:
    return joined.agg(
        F.count("*").alias("n_turns"),
        F.sum(F.col("match").cast("long")).alias("n_match"),
        F.round(F.avg(F.col("match").cast("double")), 6).alias("rate"),
    )


def straggler_stats(telemetry_out: DataFrame) -> DataFrame:
    """Per-partition kernel wall-time skew over a ``run_extraction(...,
    telemetry=True)`` result.

    Row counts are a poor straggler proxy — one 500-page PDF outweighs a
    thousand text turns.  This measures where the CPU time actually went:
    ``kernel_us`` summed per executing partition, reduced to max / median /
    mean and the max-over-median ratio (the BENCH straggler bound is ≤ 2).
    The kernel runs once per distinct payload of an Arrow batch, and only
    the row where a payload first appears in its batch carries its kernel
    time (repeats carry 0), so the sums are real kernel time, not time
    multiplied by repeats.
    One aggregation row out; safe to .collect() at any scale.
    """
    per_part = telemetry_out.groupBy("part_id").agg(
        F.count("*").alias("n_turns"),
        (F.sum("kernel_us") / 1000.0).alias("kernel_ms"),
    )
    return per_part.agg(
        F.count("*").alias("n_partitions"),
        F.sum("n_turns").alias("n_turns"),
        F.round(F.sum("kernel_ms"), 1).alias("total_kernel_ms"),
        F.round(F.max("kernel_ms"), 1).alias("max_partition_ms"),
        F.round(F.expr("percentile(kernel_ms, 0.5)"), 1).alias("median_partition_ms"),
        F.round(F.avg("kernel_ms"), 1).alias("mean_partition_ms"),
        F.round(
            F.max("kernel_ms") / F.greatest(F.expr("percentile(kernel_ms, 0.5)"), F.lit(1e-9)),
            3,
        ).alias("max_over_median"),
    )


def content_type_stats(extracted: DataFrame) -> DataFrame:
    """R5 hash aggregate + R14 distinct-conversation count per content type."""
    return (
        extracted.groupBy("content_type")
        .agg(
            F.count("*").alias("n_turns"),
            F.countDistinct("conv_id").alias("n_convs"),
            F.sum("n_chars").alias("total_chars"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.sum(F.when(F.col("parse_status") == "ok", 1).otherwise(0)).alias("n_ok"),
        )
        .orderBy("content_type")
    )
