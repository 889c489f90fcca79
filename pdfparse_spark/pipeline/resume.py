"""Checkpoint/resume with per-partition lineage + metrics (SURVEY.md P12, R4).

Unit of checkpointing: a BUCKET = ``pmod(xxhash64(conv_id), n_buckets)``.
Buckets are processed in WAVES (``buckets_per_wave`` buckets per Spark
action).  Each wave:

    1. writes its extraction output to ``out_dir/wave=<b0>_<b1>.../`` with
       mode=overwrite  → idempotent: a re-run of a half-finished wave
       replaces, never duplicates (the path is keyed by the exact bucket
       composition, so a changed wave layout can never clobber another
       wave's committed output);
    2. appends one ledger row per bucket to ``ledger_dir`` (bucket id,
       wave path, n_turns, n_ok, wall_ms, n_buckets) AFTER the output
       commit.

The LEDGER is the source of truth: ``read_output`` semi-joins the parquet
waves against the ledger's committed buckets, so output from a wave that
crashed between its parquet commit and its ledger append is invisible until
the wave re-runs — no duplicates, no partial reads.

Resume = anti-join of the input's buckets against the ledger (R4): a killed
job re-runs at most one wave, and finished waves are never reprocessed.  On
a 1000-executor cluster each wave still contains ``num_partitions`` salted
tasks, so the driver-side wave loop (a handful of iterations) costs
nothing; it exists only to create commit points, exactly like foreachBatch
micro-batches in Structured Streaming.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .artifact import path_exists
from .extract import run_extraction, run_extraction_dedup

__all__ = ["bucket_of", "run_resumable", "read_output", "read_ledger"]


def bucket_of(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn("bucket", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)))


def read_ledger(spark: SparkSession, ledger_dir: str) -> DataFrame | None:
    if not path_exists(spark, ledger_dir):
        return None  # first run: no ledger yet
    # mergeSchema: a ledger spanning the wave-column upgrade holds files
    # with and without 'wave'; without the merge, which schema wins depends
    # on file listing order
    return spark.read.option("mergeSchema", "true").parquet(ledger_dir)


def read_output(spark: SparkSession, out_dir: str, ledger_dir: str | None = None) -> DataFrame:
    """Committed output = parquet waves restricted to ledger-committed
    (bucket, wave) pairs.  Without a ledger_dir, returns the raw waves
    (test use only).

    Joining on the wave path as well as the bucket closes the orphan-wave
    hole: if a crash lands between a wave's parquet commit and its ledger
    append, and the job is then re-run with a different
    ``buckets_per_wave``, the orphan dir's buckets eventually commit via a
    differently-composed wave path — a bucket-only semi-join would
    re-admit the orphan rows and duplicate turns."""
    if not path_exists(spark, out_dir):
        # truly fresh run: nothing written yet.  An empty frame with the
        # standard output schema (+ lineage columns) — reading the wave
        # glob here would raise PATH_NOT_FOUND before the documented
        # 'first run -> empty' branch could ever run.
        from .extract import OUTPUT_SCHEMA

        schema = T.StructType(
            list(OUTPUT_SCHEMA.fields)
            + [
                T.StructField("bucket", T.LongType(), True),
                T.StructField("wave", T.StringType(), True),
            ]
        )
        return spark.createDataFrame([], schema)
    out = spark.read.option("basePath", out_dir).parquet(out_dir + "/wave=*")
    if ledger_dir is not None:
        ledger = read_ledger(spark, ledger_dir)
        if ledger is None:
            return out.limit(0)
        if "wave" in ledger.columns:
            # rows appended before the wave-column upgrade read back with
            # wave=NULL — they committed under bucket-only semantics, so
            # admit their whole bucket (NULL keys in the (bucket, wave)
            # semi-join would otherwise silently DROP pre-upgrade output);
            # post-upgrade rows keep the orphan-wave protection
            done_w = (
                ledger.filter(F.col("wave").isNotNull())
                .select("bucket", F.col("wave").cast("string").alias("wave"))
                .distinct()
                .withColumn("_mw", F.lit(1))
            )
            legacy = (
                ledger.filter(F.col("wave").isNull())
                .select("bucket")
                .distinct()
                .withColumn("_mb", F.lit(1))
            )
            out = (
                out.withColumn("wave", F.col("wave").cast("string"))
                .join(F.broadcast(done_w), ["bucket", "wave"], "left")
                .join(F.broadcast(legacy), ["bucket"], "left")
                .filter(F.col("_mw").isNotNull() | F.col("_mb").isNotNull())
                .drop("_mw", "_mb")
            )
        else:
            # ledger written before the wave column existed: fall back to the
            # bucket-only semi-join so a crash-resume across the upgrade still
            # works (the orphan-wave protection applies from the next ledger on)
            done = ledger.select("bucket").distinct()
            out = out.join(F.broadcast(done), ["bucket"], "left_semi")
    return out


def run_resumable(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    ledger_dir: str,
    n_buckets: int = 8,
    buckets_per_wave: int = 2,
    num_partitions: int | None = None,
    salt: int = 64,
    fail_after_waves: int | None = None,
    telemetry: bool = False,
    split_pages: bool = False,
    device: str = "simple",
    dedup_payloads: bool = False,
) -> dict:
    """Run the extraction resumably.  ``fail_after_waves`` injects a crash
    after k committed waves (test hook for the kill/rerun invariant).
    Returns run stats: waves run, buckets skipped (already in ledger).

    ``split_pages=True`` routes heavy documents through the per-page-
    parallel extractor (split_extract.run_extraction_split) — identical
    output rows, no single-task straggler on a huge PDF.  Mutually
    exclusive with ``telemetry`` (the split path has no per-turn timing
    column).

    ``dedup_payloads=True`` routes each wave through the content-addressed
    extractor (extract.run_extraction_dedup) — kernel once per distinct
    payload within the wave, identical output rows; composes with
    ``split_pages`` (huge distinct docs still fan out per page), golden
    device only, no telemetry.

    ``telemetry=True`` runs the kernel with per-turn timing: wave output
    gains ``kernel_us``/``part_id`` columns and each ledger row records the
    bucket's total ``kernel_ms`` — per-partition/per-bucket wall-time
    lineage (SURVEY.md §7 straggler evidence).  The ledger column exists in
    both modes (null when off) so telemetry and plain waves share one
    ledger directory.
    """
    if split_pages and telemetry:
        raise ValueError("split_pages and telemetry are mutually exclusive")
    if device != "simple" and (split_pages or telemetry):
        raise ValueError(
            "alternative layout devices run only on the plain path "
            "(the split merge and telemetry are defined for the golden policy)"
        )
    if dedup_payloads and (telemetry or device != "simple"):
        raise ValueError(
            "dedup_payloads runs only on the golden device without "
            "telemetry (the distinct-payload kernel has no per-turn "
            "timing); split_pages COMPOSES with it"
        )
    bdf = bucket_of(df, n_buckets)
    ledger = read_ledger(spark, ledger_dir)
    done: set[int] = set()
    if ledger is not None:
        sel = ["bucket", "n_buckets"] + (["device"] if "device" in ledger.columns else [])
        rows = ledger.select(*sel).distinct().collect()
        prev_n = {r["n_buckets"] for r in rows}
        if prev_n and prev_n != {n_buckets}:
            raise ValueError(
                "n_buckets=%d does not match ledger n_buckets=%s — "
                "bucket assignment would shift; restart with a fresh out/ledger dir"
                % (n_buckets, sorted(prev_n))
            )
        # device drift guard: resuming with a different layout policy would
        # silently mix policies across waves in one out dir (pre-device-
        # column ledgers carry no record; the check applies going forward)
        prev_dev = {r["device"] for r in rows if "device" in r.__fields__}
        if prev_dev and prev_dev != {device}:
            raise ValueError(
                "device=%r does not match ledger device=%s — output would mix "
                "layout policies; restart with a fresh out/ledger dir"
                % (device, sorted(prev_dev))
            )
        done = {r["bucket"] for r in rows}

    todo = sorted(set(range(n_buckets)) - done)
    waves = [todo[i : i + buckets_per_wave] for i in range(0, len(todo), buckets_per_wave)]
    waves_run = 0
    turns_processed = 0
    for wave_buckets in waves:
        wave_str = "_".join(str(b) for b in wave_buckets)
        wave_path = "%s/wave=%s" % (out_dir, wave_str)
        subset = bdf.filter(F.col("bucket").isin([int(b) for b in wave_buckets]))
        t0 = time.monotonic()
        if dedup_payloads:
            # content-addressed per wave: the kernel runs once per distinct
            # payload WITHIN the wave (identical output rows; cross-wave /
            # cross-job caching is the streaming path's persistent cache);
            # split_pages composes — huge DISTINCT docs still fan out
            extracted = run_extraction_dedup(
                subset.drop("bucket"),
                num_partitions=num_partitions,
                split_pages=split_pages,
            )
        elif split_pages:
            from .split_extract import run_extraction_split

            extracted = run_extraction_split(
                subset.drop("bucket"), num_partitions=num_partitions, salt=salt
            )
        else:
            extracted = run_extraction(
                subset.drop("bucket"), num_partitions=num_partitions, salt=salt,
                telemetry=telemetry, device=device,
            )
        # bucket_of, not an inline copy of the formula: the output bucket
        # MUST stay bit-identical to the planning assignment above
        out = bucket_of(extracted, n_buckets)
        # per-bucket ledger metrics ride the write itself (CollectMetrics):
        # the old shape re-READ the just-written wave parquet to groupBy
        # bucket — a whole extra scan of the output per wave whose only
        # product was 2-4 counters.  Conditional aggregates observed on the
        # write stream count exactly the rows the write action emitted, and
        # the ledger row still appends only AFTER the write commit returns,
        # so a committed ledger row implies committed output as before.
        obs = Observation("wave_%s" % wave_str)
        aggs = []
        for b in wave_buckets:
            is_b = F.col("bucket") == int(b)
            aggs.append(F.sum(F.when(is_b, 1).otherwise(0)).alias("n_turns_%d" % b))
            aggs.append(
                F.sum(
                    F.when(is_b & (F.col("parse_status") == "ok"), 1).otherwise(0)
                ).alias("n_ok_%d" % b)
            )
            aggs.append(
                (
                    F.round(F.sum(F.when(is_b, F.col("kernel_us"))) / 1000.0, 1)
                    if telemetry
                    else F.lit(None).cast("double")
                ).alias("kernel_ms_%d" % b)
            )
        out.observe(obs, *aggs).write.mode("overwrite").parquet(wave_path)
        wall_ms = int((time.monotonic() - t0) * 1000)
        vals = obs.get

        # every bucket of the wave gets a ledger row, even an empty one —
        # otherwise an empty bucket would be "not done" forever (a zero-row
        # wave observes null sums: coerce to the same 0 the old left-join
        # + fillna produced)
        rows = [
            (
                int(b),
                int(vals["n_turns_%d" % b] or 0),
                int(vals["n_ok_%d" % b] or 0),
                vals["kernel_ms_%d" % b],
            )
            for b in wave_buckets
        ]
        stats = (
            spark.createDataFrame(
                rows, "bucket: bigint, n_turns: bigint, n_ok: bigint, kernel_ms: double"
            )
            .withColumn("wall_ms", F.lit(wall_ms))
            .withColumn("n_buckets", F.lit(n_buckets))
            .withColumn("wave", F.lit(wave_str))
            .withColumn("device", F.lit(device))
        )
        stats.write.mode("append").parquet(ledger_dir)
        # this wave's committed turn count — the caller's throughput stat
        # must divide THIS run's work by this run's wall, not everything
        # ever committed to the out dir
        turns_processed += sum(r[1] for r in rows)
        waves_run += 1
        if fail_after_waves is not None and waves_run >= fail_after_waves:
            raise RuntimeError("injected failure after %d waves" % waves_run)
    return {"waves_run": waves_run, "buckets_skipped": len(done), "n_buckets": n_buckets, "turns_processed": turns_processed}
