"""spark-submit entry point for the extraction pipeline.

Local smoke:
    python -m pdfparse_spark.pipeline.run_extract --out /tmp/px_out \\
        --n-convs 20 --turns 12

Cluster shape (multi-executor, per BASELINE.json north_rule) — spark-submit
takes a SCRIPT path, not -m; scripts/submit_extract.py is that script:
    zip -r pdfparse_spark.zip pdfparse_spark
    spark-submit --py-files pdfparse_spark.zip \\
        --conf spark.sql.execution.arrow.maxRecordsPerBatch=512 \\
        scripts/submit_extract.py \\
        --input <transcripts parquet/iceberg path> --out <dir>

With --input the transcripts are read from parquet (input_hint schema);
without it a deterministic fixture corpus is synthesized.  Output is
resumable: re-running with the same --out skips ledger-complete waves.
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import functions as F

from .metrics import content_type_stats, straggler_stats
from .resume import read_ledger, read_output, run_resumable
from .session import get_spark
from .transcripts import synthesize, transcripts_df, make_transcript_rows


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--input", help="parquet path with input_hint schema; default: synthesize")
    p.add_argument("--out", required=True, help="output dir (parquet waves + ledger)")
    p.add_argument("--master", default=None)
    p.add_argument("--n-convs", type=int, default=20)
    p.add_argument("--turns", type=int, default=12)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--n-buckets", type=int, default=8)
    p.add_argument("--buckets-per-wave", type=int, default=2)
    p.add_argument("--partitions", type=int, default=None, help="salted partitions (default 4x cores)")
    p.add_argument(
        "--device",
        choices=["simple", "advance", "column"],
        default="simple",
        help="layout policy: simple (golden parity), advance (AFM "
        "word-spacing synthesis), column (column-major reading order)",
    )
    p.add_argument(
        "--split-pages",
        action="store_true",
        help="per-page-parallel extraction of heavy PDFs (no single-task "
        "straggler on a huge document); identical output rows",
    )
    p.add_argument(
        "--dedup-payloads",
        action="store_true",
        help="content-addressed extraction: run the kernel once per "
        "distinct payload within each wave and join results back "
        "(identical output rows; wins on duplicate-heavy corpora). Each "
        "Arrow batch already runs a repeated payload once; this dedups "
        "across partitions at the cost of one extra shuffle plus a join",
    )
    p.add_argument(
        "--conv-dedup",
        action="store_true",
        help="drop duplicate conversations BEFORE extraction: exact "
        "re-ingested sessions (one canonical copy survives) and "
        "abandoned retry-prefix sessions (convops turn-hash chains). "
        "The drop set is LEFT-ANTI joined — typically small, so AQE "
        "broadcasts it and the fat text never shuffles for the filter",
    )
    p.add_argument(
        "--conv-index-dir",
        default=None,
        help="ALSO screen against a persisted conversation index "
        "(conv_index.py) before extraction: sessions whose chain tail "
        "is already indexed — exact duplicates or retry prefixes of a "
        "previously shipped run — are dropped.  Cross-run dedup; "
        "composes with --conv-dedup (which handles the increment's own "
        "internal duplicates)",
    )
    p.add_argument(
        "--conv-index-extend",
        action="store_true",
        help="after extraction, append the SURVIVING conversations' "
        "chain values to --conv-index-dir so the next increment screens "
        "against this run too (idempotent by value)",
    )
    p.add_argument(
        "--warmup",
        action="store_true",
        help="run a tiny untimed extraction first: forks the Python worker "
        "pool, imports the kernel (from --py-files on a cluster) and builds "
        "its glyph/AFM tables, and JITs the hot paths, so wall_sec measures "
        "steady-state throughput — the same protocol bench.py uses for "
        "every recorded number (BENCH/EXECUTORS.md scaling legs)",
    )
    p.add_argument(
        "--telemetry",
        action="store_true",
        help="run the kernel with per-turn timing: wave output carries "
        "kernel_us/part_id, the ledger records per-bucket kernel_ms, and "
        "per-partition straggler stats print at the end",
    )
    args = p.parse_args(argv)

    spark = get_spark(master=args.master, app_name="pdfparse_extract")
    cores = spark.sparkContext.defaultParallelism
    partitions = args.partitions or 4 * cores

    if args.input:
        from ..sources import load_transcripts

        df = load_transcripts(spark, args.input)
    else:
        rows, _ = make_transcript_rows(args.n_convs, args.turns, args.seed)
        df = transcripts_df(spark, rows)

    if args.conv_index_extend and not args.conv_index_dir:
        p.error("--conv-index-extend requires --conv-index-dir")

    conv_stats: dict = {}
    if args.conv_index_dir:
        # cross-run screen FIRST (cheapest elimination — one semi-join
        # against the stored value set), then the in-increment grains
        from .conv_index import probe_conv_index

        drop = (
            probe_conv_index(spark, df, args.conv_index_dir)
            .filter(~F.col("keep"))
            .select("conv_id")
            .localCheckpoint(eager=True)
        )
        conv_stats["convs_screened"] = drop.count()
        df = df.join(drop, "conv_id", "left_anti")
    if args.conv_dedup:
        from .convops import conv_dedup_filter

        df, stats = conv_dedup_filter(df)
        conv_stats.update(stats)

    if args.warmup:
        from .extract import run_extraction

        # 2 rows per salted partition: every core's worker gets forked and
        # imports the kernel before the clock starts (the fixture mix means
        # the sample includes PDF turns, so the heavy import path is the
        # one warmed).  One partition per core would also work, but the
        # early defaultParallelism lies on a standalone master (see below),
        # so size by the explicit partition count instead.
        run_extraction(
            df.limit(2 * partitions), num_partitions=partitions
        ).agg(F.count("*")).collect()

    t0 = time.monotonic()
    stats = run_resumable(
        spark,
        df,
        out_dir=args.out + "/extracted",
        ledger_dir=args.out + "/ledger",
        n_buckets=args.n_buckets,
        buckets_per_wave=args.buckets_per_wave,
        num_partitions=partitions,
        telemetry=args.telemetry,
        split_pages=args.split_pages,
        device=args.device,
        dedup_payloads=args.dedup_payloads,
    )
    wall = time.monotonic() - t0
    if args.conv_index_extend:
        # index the survivors this run shipped (post screen + dedup) so
        # the next increment's probe skips them; by-value idempotent, so
        # a resumed/replayed run re-extends harmlessly
        from .conv_index import extend_conv_index

        ext = extend_conv_index(spark, df, args.conv_index_dir)
        conv_stats["index_values_added"] = ext["n_added"]
    out = read_output(spark, args.out + "/extracted", args.out + "/ledger")
    n = out.count()
    ledger = read_ledger(spark, args.out + "/ledger")
    done = stats["turns_processed"]
    print(json.dumps({
        "turns": n,
        "turns_processed": done,
        # which cluster actually ran this: under spark-submit the builder's
        # default master would silently override the submitted one unless
        # --master is passed through, so the record must prove the topology.
        # parallelism is re-read HERE: at session start a standalone master
        # reports 2 until executors register, so the early `cores` lies
        "master": spark.sparkContext.master,
        "parallelism": spark.sparkContext.defaultParallelism,
        "wall_sec": round(wall, 3),
        # THIS run's throughput: committed-total / wall would report a
        # resumed run (mostly skipped buckets) as absurdly fast
        "turns_per_sec": round(done / wall, 1) if wall > 0 and done else None,
        "waves_run": stats["waves_run"],
        "buckets_skipped": stats["buckets_skipped"],
        "ledger_rows": ledger.count() if ledger is not None else 0,
        **conv_stats,
    }))
    content_type_stats(out).show(truncate=False)
    # mixed out dirs (earlier waves written without --telemetry) lack the
    # timing columns; only the aggregate needs them, the run itself doesn't
    if args.telemetry and {"kernel_us", "part_id"} <= set(out.columns):
        straggler_stats(out).show(truncate=False)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
