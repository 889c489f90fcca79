"""Bucketed co-located joins: the verification join runs with zero
shuffles once both sides are bucketed by conv_id (pipeline/bucketed.py)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


@pytest.fixture
def bucketed_pair(spark, tmp_path_factory):
    from pdfparse_spark.pipeline.bucketed import write_bucketed
    from pdfparse_spark.pipeline.extract import run_extraction
    from pdfparse_spark.pipeline.transcripts import synthesize

    base = tmp_path_factory.mktemp("bucketed")
    df, golden = synthesize(spark, n_convs=8, turns_per_conv=5, seed=11)
    out = run_extraction(df, num_partitions=4)
    write_bucketed(out, "t_extracted", 4, path=str(base / "extracted"))
    write_bucketed(golden, "t_golden", 4, path=str(base / "golden"))
    yield "t_extracted", "t_golden", df.count()
    spark.sql("DROP TABLE IF EXISTS t_extracted")
    spark.sql("DROP TABLE IF EXISTS t_golden")


def test_colocated_join_has_no_exchange(spark, bucketed_pair):
    left, right, n = bucketed_pair
    from pdfparse_spark.pipeline.bucketed import colocated_join

    # broadcast would hide the bucketing evidence on these tiny tables;
    # disable it so the plan must choose sort-merge over the buckets
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = colocated_join(spark, left, right, on=["conv_id", "turn_idx"])
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() == n
        # and the join is still correct: per-turn equality holds
        ok = joined.filter(F.col("extracted_text") == F.col("golden_text")).count()
        assert ok == n
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_unbucketed_join_shuffles_for_contrast(spark, bucketed_pair):
    """Reading the same data as plain parquet (no bucket metadata) puts the
    Exchange back — the bucketing is what removes it, not the data size."""
    left, right, _ = bucketed_pair
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        l_path = spark.sql(f"DESCRIBE FORMATTED {left}").filter("col_name = 'Location'").collect()[0]["data_type"]
        r_path = spark.sql(f"DESCRIBE FORMATTED {right}").filter("col_name = 'Location'").collect()[0]["data_type"]
        joined = spark.read.parquet(l_path).join(
            spark.read.parquet(r_path), ["conv_id", "turn_idx"]
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
