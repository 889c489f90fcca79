"""Source/sink layer: format round-trips and Iceberg capability probing."""

from __future__ import annotations

import pytest

from pdfparse_spark.pipeline.transcripts import synthesize
from pdfparse_spark.sources import iceberg_available, load_transcripts, write_output


def test_parquet_json_csv_roundtrip(spark, tmp_path):
    df, _ = synthesize(spark, n_convs=3, turns_per_conv=4, seed=5)
    # exclude pdf/html turns for csv/json (payloads embed quotes/newlines the
    # formats escape differently); parquet carries everything
    plain = df.filter(df.tool == "")

    pq = str(tmp_path / "t.parquet")
    df.write.parquet(pq)
    assert load_transcripts(spark, pq).count() == df.count()

    js = str(tmp_path / "t.json")
    plain.write.json(js)
    got = load_transcripts(spark, js)
    assert got.count() == plain.count()
    # nullability differs on JSON read; names + types must match
    assert [(f.name, f.dataType) for f in got.schema] == [
        (f.name, f.dataType) for f in plain.schema
    ]

    cs = str(tmp_path / "t.csv")
    plain.write.option("header", "true").csv(cs)
    got = load_transcripts(spark, cs)
    assert got.count() == plain.count()


def test_parquet_load_starts_no_spark_job(spark, tmp_path):
    """The declared input schema replaces parquet schema inference, which
    ran a one-task Spark job on every load."""
    df, _ = synthesize(spark, n_convs=2, turns_per_conv=2, seed=3)
    pq = str(tmp_path / "t.parquet")
    df.write.parquet(pq)
    sc = spark.sparkContext
    sc.setJobGroup("load_transcripts_probe", "parquet load")
    try:
        got = load_transcripts(spark, pq)
        assert sc.statusTracker().getJobIdsForGroup("load_transcripts_probe") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert got.count() == df.count()


def test_parquet_columns_load_in_input_schema_order(spark, tmp_path):
    """Columns in another order plus one outside the schema: the load gives
    INPUT_SCHEMA's columns, in its order, with the same values."""
    from pyspark.sql import functions as F

    from pdfparse_spark.pipeline.transcripts import INPUT_SCHEMA

    df, _ = synthesize(spark, n_convs=3, turns_per_conv=3, seed=4)
    pq = str(tmp_path / "shuffled.parquet")
    df.select("ts", "text", F.lit(7).alias("extra"), "tool", "conv_id", "role",
              "turn_idx").write.parquet(pq)
    got = load_transcripts(spark, pq)
    assert [(f.name, f.dataType) for f in got.schema] == [
        (f.name, f.dataType) for f in INPUT_SCHEMA
    ]
    assert sorted(got.collect()) == sorted(df.collect())


def test_parquet_int64_turn_idx_fails_at_read(spark, tmp_path):
    """A file whose turn_idx is int64 fails when read, naming the column."""
    from pyspark.sql import functions as F

    df, _ = synthesize(spark, n_convs=1, turns_per_conv=2, seed=2)
    pq = str(tmp_path / "long.parquet")
    df.withColumn("turn_idx", F.col("turn_idx").cast("long")).write.parquet(pq)
    with pytest.raises(Exception) as err:
        load_transcripts(spark, pq).collect()
    assert "PARQUET_COLUMN_DATA_TYPE_MISMATCH" in str(err.value)
    assert "[turn_idx]" in str(err.value)


def test_iceberg_gracefully_absent(spark, tmp_path):
    # this container ships no Iceberg jars; the probe must say so (and on a
    # cluster with jars, auto mode switches to Iceberg for table names)
    assert iceberg_available(spark) is False
    df, _ = synthesize(spark, n_convs=2, turns_per_conv=2, seed=1)
    out = str(tmp_path / "o")
    write_output(df, out)
    assert spark.read.parquet(out).count() == df.count()


def test_orc_roundtrip(spark, tmp_path):
    """ORC sink + source (full payload incl. PDF/HTML turns, like parquet)."""
    df, _ = synthesize(spark, n_convs=3, turns_per_conv=4, seed=6)
    oc = str(tmp_path / "t.orc")
    write_output(df, oc, fmt="orc")
    got = load_transcripts(spark, oc)
    assert got.count() == df.count()
    assert [(f.name, f.dataType) for f in got.schema] == [
        (f.name, f.dataType) for f in df.schema
    ]


def test_range_clustered_write_has_disjoint_file_ranges(spark, tmp_path):
    """Range-clustered parquet: per-file conv_id ranges must be pairwise
    disjoint (that's what lets row-group min/max stats prune scans)."""
    from pyspark.sql import functions as F

    from pdfparse_spark.sources import write_range_clustered

    df, _ = synthesize(spark, n_convs=12, turns_per_conv=4, seed=8)
    out = str(tmp_path / "clustered")
    write_range_clustered(df, out, num_files=4)

    ranges = (
        spark.read.parquet(out)
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.min("conv_id").alias("lo"), F.max("conv_id").alias("hi"))
        .collect()
    )
    assert len(ranges) > 1
    spans = sorted((r["lo"], r["hi"]) for r in ranges)
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2, f"overlapping file ranges: ({lo1},{hi1}) vs ({lo2},{hi2})"
    assert spark.read.parquet(out).count() == df.count()
