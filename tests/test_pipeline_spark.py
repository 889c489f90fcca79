"""Spark-level pipeline tests: per-turn golden equality, skew salting,
resume semantics, entry contract, plan hygiene (SURVEY.md §5.2 items 4-5)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_extraction_matches_golden_per_turn(spark):
    from pdfparse_spark.pipeline.extract import run_extraction
    from pdfparse_spark.pipeline.metrics import join_golden, match_rate
    from pdfparse_spark.pipeline.transcripts import synthesize

    df, golden = synthesize(spark, n_convs=10, turns_per_conv=6, seed=42)
    extracted = run_extraction(df, num_partitions=8, salt=16)
    joined = join_golden(extracted, golden)
    row = match_rate(joined).collect()[0]
    assert row["n_turns"] == df.count()
    assert row["n_match"] == row["n_turns"], (
        joined.filter(~F.col("match"))
        .select("conv_id", "turn_idx", "content_type", "parse_status")
        .collect()
    )
    assert row["rate"] == 1.0


def test_output_schema_stable(spark):
    from pdfparse_spark.pipeline.extract import OUTPUT_SCHEMA, run_extraction
    from pdfparse_spark.pipeline.transcripts import synthesize

    df, _ = synthesize(spark, n_convs=2, turns_per_conv=3, seed=1)
    out = run_extraction(df)
    assert out.schema == OUTPUT_SCHEMA


def test_salting_spreads_hot_conversation(spark):
    """The hot conv (~10% of turns) must land on >1 partition after salting."""
    from pdfparse_spark.pipeline.extract import salt_repartition
    from pdfparse_spark.pipeline.transcripts import synthesize

    df, _ = synthesize(spark, n_convs=10, turns_per_conv=10, seed=42)
    salted = salt_repartition(df, num_partitions=8, salt=16)
    parts = (
        salted.filter(F.col("conv_id") == "conv000000")
        .select(F.spark_partition_id().alias("pid"))
        .distinct()
        .count()
    )
    assert parts > 1, "hot conv_id pinned to a single partition"


def test_match_rate_sees_dropped_rows(spark):
    """A row-loss regression must LOWER the match rate, not shrink the
    denominator: join_golden is golden-left, so a turn missing from the
    extraction output counts as a mismatch."""
    from pdfparse_spark.pipeline.extract import run_extraction
    from pdfparse_spark.pipeline.metrics import join_golden, match_rate
    from pdfparse_spark.pipeline.transcripts import synthesize

    df, golden = synthesize(spark, n_convs=4, turns_per_conv=4, seed=5)
    extracted = run_extraction(df, num_partitions=4, salt=8)
    # simulate the regression: silently drop one turn
    lossy = extracted.filter(~((F.col("conv_id") == df.first()["conv_id"])
                               & (F.col("turn_idx") == 0)))
    row = match_rate(join_golden(lossy, golden)).collect()[0]
    assert row["n_turns"] == df.count()          # denominator stays golden
    assert row["n_match"] == df.count() - 1      # the dropped turn is a miss
    assert row["rate"] < 1.0


def test_resume_kill_rerun(spark, tmp_path):
    """Kill after 1 wave → rerun skips committed buckets → identical output."""
    from pdfparse_spark.pipeline.resume import read_ledger, read_output, run_resumable
    from pdfparse_spark.pipeline.transcripts import synthesize

    df, _ = synthesize(spark, n_convs=8, turns_per_conv=5, seed=3)
    out = str(tmp_path / "out")
    ledger = str(tmp_path / "ledger")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_resumable(spark, df, out, ledger, n_buckets=4, buckets_per_wave=1,
                      num_partitions=4, fail_after_waves=1)
    led1 = read_ledger(spark, ledger)
    done_after_kill = {r["bucket"] for r in led1.select("bucket").collect()}
    assert len(done_after_kill) == 1

    stats = run_resumable(spark, df, out, ledger, n_buckets=4, buckets_per_wave=1,
                          num_partitions=4)
    assert stats["buckets_skipped"] == 1  # no reprocessing of committed work
    assert stats["waves_run"] == 3

    final = read_output(spark, out, ledger)
    assert final.count() == df.count()
    # every turn exactly once (idempotent writes, no dupes)
    assert final.select("conv_id", "turn_idx").distinct().count() == df.count()
    # ledger lineage covers all buckets with per-bucket metrics
    led = read_ledger(spark, ledger)
    assert {r["bucket"] for r in led.collect()} == {0, 1, 2, 3}
    assert led.agg(F.sum("n_turns")).collect()[0][0] == df.count()
    # changing n_buckets against an existing ledger must refuse, not corrupt
    with pytest.raises(ValueError, match="n_buckets"):
        run_resumable(spark, df, out, ledger, n_buckets=8, buckets_per_wave=2)

    # an orphan wave (crashed before its ledger append) must stay invisible
    final.limit(5).withColumn("bucket", F.lit(99)).write.parquet(out + "/wave=99")
    assert read_output(spark, out, ledger).count() == df.count()

    # the harder orphan: a wave dir whose BUCKETS later committed via a
    # differently-composed wave path (buckets_per_wave changed across a
    # crash-resume).  A bucket-only semi-join would re-admit these rows
    # and duplicate turns; the (bucket, wave) join must not.
    orphan = spark.read.option("basePath", out).parquet(out + "/wave=0").drop("wave")
    orphan.write.parquet(out + "/wave=0_1")
    assert read_output(spark, out, ledger).count() == df.count()
    assert (
        read_output(spark, out, ledger).select("conv_id", "turn_idx").distinct().count()
        == df.count()
    )


def test_resume_mixed_schema_ledger(spark, tmp_path):
    """A ledger spanning the wave-column upgrade (old rows without 'wave',
    new rows with it) must admit the PRE-upgrade buckets' output via their
    bucket-only commit semantics — NULL wave keys in the (bucket, wave)
    semi-join would silently drop everything committed before the upgrade
    — while post-upgrade rows keep the orphan-wave protection."""
    from pdfparse_spark.pipeline.resume import read_output, run_resumable
    from pdfparse_spark.pipeline.transcripts import synthesize

    df, _ = synthesize(spark, n_convs=8, turns_per_conv=4, seed=7)
    out = str(tmp_path / "out")
    ledger = str(tmp_path / "ledger")
    run_resumable(spark, df, out, ledger, n_buckets=4, buckets_per_wave=2,
                  num_partitions=4)
    # simulate a pre-upgrade ledger era: rewrite half the ledger rows
    # WITHOUT the wave column (the old schema)
    led = spark.read.parquet(ledger)
    assert "wave" in led.columns
    # materialize BEFORE deleting the dir the lazy frames read from
    old_schema = led.drop("wave").schema
    new_schema = led.schema
    old_rows = led.filter(F.col("bucket") < 2).drop("wave").collect()
    new_rows = led.filter(F.col("bucket") >= 2).collect()
    import shutil
    shutil.rmtree(ledger)
    spark.createDataFrame(old_rows, old_schema).write.mode("append").parquet(ledger)
    spark.createDataFrame(new_rows, new_schema).write.mode("append").parquet(ledger)

    got = read_output(spark, out, ledger)
    assert got.count() == df.count()  # pre-upgrade buckets NOT dropped
    assert got.select("conv_id", "turn_idx").distinct().count() == df.count()

    # orphan-wave protection still active for post-upgrade buckets: an
    # uncommitted wave dir for bucket 3 stays invisible
    orphan = got.filter(F.col("bucket") == 3).limit(3)
    orphan.write.parquet(out + "/wave=orphan")
    assert read_output(spark, out, ledger).count() == df.count()


def test_read_output_fresh_dirs(spark, tmp_path):
    """read_output on never-written out/ledger dirs returns an empty frame
    with the standard schema instead of raising PATH_NOT_FOUND."""
    from pdfparse_spark.pipeline.resume import read_output

    got = read_output(spark, str(tmp_path / "nope"), str(tmp_path / "noledger"))
    assert got.count() == 0
    assert {"conv_id", "turn_idx", "extracted_text", "parse_status", "bucket"} <= set(got.columns)


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    assert set(df.columns) == {"content_type", "n_turns", "n_match", "n_ok", "n_docs"}
    # flagship invariant: per-turn golden equality
    for r in rows:
        assert r["n_match"] == r["n_turns"]
    # every oracle key must have a matching query
    qs, os_ = e.queries(), e.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 20
    # the driver checks only the first 50 queries: every slot from 11-50
    # must be hash-verifiable (the 6 extraction gates — the north-rule
    # invariant — and the flagship minhash sketch are the only rows-only
    # entries allowed in budget); a new rows-only op must register at 51+
    names = list(qs)
    allowed_rows_only = set(names[:6]) | {"dedup_minhash_lsh"}
    for k in names[:50]:
        assert k in os_ or k in allowed_rows_only, (
            f"rows-only query {k!r} inside the driver's 50-slot budget"
        )


def test_query_registry_pins_the_committed_order():
    """queries() is ONE ordered list: exactly the order of the committed
    local oracle sweep; oracle_sql() covers exactly the sweep's
    hash-verified queries; every family-registered query appears in
    queries() exactly once."""
    import json
    import os

    import __spark_entry__ as e

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "CORRECTNESS_LOCAL_r06_sf0.1.json")) as fh:
        sweep = json.load(fh)
    assert list(e.queries()) == list(sweep)
    assert set(e.oracle_sql()) == {k for k, v in sweep.items() if v["err"] != "no_oracle"}
    registered = list(e._ENTRY_QUERIES) + [
        name for fam in e._families() for name in fam.QUERIES
    ]
    assert sorted(registered) == sorted(e.queries())


def test_plan_hygiene_pushdown_and_broadcast(spark):
    """Scale discipline: filters reach the scan; tiny dims broadcast."""
    from pdfparse_spark.pipeline.relational import q1_pricing_summary, q5_revenue_by_nation

    plan1 = q1_pricing_summary(spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan1
    plan5 = q5_revenue_by_nation(spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan5


def test_sketch_ops_never_cartesian(spark):
    """The 100 TB dedup/ANN paths must generate candidates via equality
    joins on sketch keys — a CartesianProduct/BNLJ anywhere means the op
    silently degraded to O(n²)."""
    from pdfparse_spark.pipeline.embed import sim_ann_lsh
    from pdfparse_spark.pipeline.textdedup import dedup_minhash_lsh, dedup_simhash

    for op in (dedup_minhash_lsh, dedup_simhash, sim_ann_lsh):
        plan = op(spark, SF)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, op.__name__
        assert "BroadcastNestedLoop" not in plan, op.__name__


def test_multimodal_plumbing(spark):
    from pdfparse_spark.pipeline.multimodal import mm_decode_meta

    rows = mm_decode_meta(spark, SF).collect()
    assert len(rows) == 500
    for r in rows[:20]:
        assert r["width"] == 64 + r["n_bytes"] % 512
        assert r["n_frames"] == 1 + r["n_bytes"] % 24


def test_telemetry_kernel_timing_and_straggler_stats(spark):
    """telemetry=True adds per-turn kernel_us + executing part_id; the
    straggler aggregate reduces them to one row of partition-skew evidence.
    The default (non-telemetry) output schema is pinned unchanged by
    test_output_schema_stable."""
    from pdfparse_spark.pipeline.extract import run_extraction
    from pdfparse_spark.pipeline.metrics import straggler_stats
    from pdfparse_spark.pipeline.transcripts import synthesize

    df, _ = synthesize(spark, n_convs=6, turns_per_conv=6, seed=7)
    out = run_extraction(df, num_partitions=8, salt=16, telemetry=True)
    assert {"kernel_us", "part_id"} <= set(out.columns)

    rows = out.select("kernel_us", "part_id").collect()
    assert len(rows) == df.count()
    assert all(r["kernel_us"] >= 0 for r in rows)
    assert sum(r["kernel_us"] for r in rows) > 0  # PDF turns cost real time

    s = straggler_stats(out).collect()[0]
    assert s["n_turns"] == df.count()
    assert s["n_partitions"] == len({r["part_id"] for r in rows})
    assert s["max_partition_ms"] >= s["median_partition_ms"] >= 0
    assert s["max_over_median"] >= 1.0


def test_resumable_ledger_records_kernel_ms(spark, tmp_path):
    """telemetry=True through run_resumable: ledger rows carry per-bucket
    kernel_ms; plain runs record null in the same ledger schema."""
    from pdfparse_spark.pipeline.resume import read_ledger, read_output, run_resumable
    from pdfparse_spark.pipeline.transcripts import synthesize

    df, _ = synthesize(spark, n_convs=6, turns_per_conv=4, seed=3)
    out = str(tmp_path / "o")
    led = str(tmp_path / "l")
    run_resumable(spark, df, out, led, n_buckets=4, buckets_per_wave=2,
                  num_partitions=4, telemetry=True)
    ledger = read_ledger(spark, led)
    rows = ledger.collect()
    assert {r["bucket"] for r in rows} == {0, 1, 2, 3}
    nonempty = [r for r in rows if r["n_turns"] > 0]
    assert nonempty and all(r["kernel_ms"] is not None and r["kernel_ms"] > 0 for r in nonempty)
    got = read_output(spark, out, led)
    assert got.count() == df.count()
    assert {"kernel_us", "part_id"} <= set(got.columns)


def test_plan_hygiene_all_queries(spark):
    """Sweep EVERY driver-contract query's physical plan: no accidental
    CartesianProduct / BroadcastNestedLoopJoin anywhere except the ops
    whose semantics genuinely are all-pairs against a tiny broadcast side:
    the brute-force cosine top-k oracle and the one-row-aggregate
    cross joins."""
    import __spark_entry__ as e

    # dedup_embedding_cosine is NOT exempt: since the multi-band sign-LSH
    # rework its candidates come from band-key equality joins, so a BNLJ
    # there would be a genuine O(n^2) regression.  Nor are the IVF /
    # k-means ops: since the literal-codebook HOF rework the centroid
    # argmin is a per-row expression, so no join of any kind remains.
    allowed_all_pairs = {
        "sim_cosine_topk",
        # tfidf / pps / mix-rebalance cross-join a ONE-row broadcast
        # aggregate (corpus doc count / total weight) into every row —
        # O(n·1), the right plan at any scale
        "text_tfidf_topk", "docs_pps_sample", "docs_mix_rebalance",
        # perplexity cross-joins TWO one-row broadcast aggregates ((N, V)
        # scalars, tercile cutoffs) into every row — O(n·1); curate_full
        # composes that leg and inherits the same one-row broadcasts;
        # the bigram variant has the identical (V scalar, cutoffs) shape
        "text_perplexity", "text_perplexity_bigram", "corpus_curate_full",
        # compose the same one-row-broadcast perplexity cutoffs
        "corpus_curate_dsir", "corpus_curate_decon",
        # parity gate: ONE-row agg × ONE-row distinct-count — O(1·1)
        "extract_dedup_parity",
    }
    for name, fn in e.queries().items():
        plan = fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, name
        if name not in allowed_all_pairs:
            assert "BroadcastNestedLoop" not in plan, name


def test_approx_users_within_error_band(spark):
    """HLL sketch (rsd=2%) must land within 5% of the exact distinct."""
    from pdfparse_spark.pipeline.relational import events_approx_users

    for r in events_approx_users(spark, "/root/testdata/sf0.01").collect():
        err = abs(r["approx_users"] - r["exact_users"]) / max(r["exact_users"], 1)
        assert err <= 0.05, (r["event_type"], r["approx_users"], r["exact_users"])


def test_stratified_sample_binomial_bounds(spark):
    """Per-stratum kept counts stay within generous binomial bounds of
    n*p (±6 sigma) and sampling is deterministic under a fixed seed."""
    import math

    from pdfparse_spark.pipeline.relational import docs_stratified_sample

    sf = "/root/testdata/sf0.01"
    totals = {
        r["lang"]: r["cnt"]
        for r in spark.read.parquet(f"{sf}/documents.parquet")
        .groupBy("lang").agg(F.count("*").alias("cnt")).collect()
    }
    fractions = {"en": 0.5, "de": 0.25, "fr": 0.25, "es": 0.25, "zh": 0.25}
    first = {r["lang"]: r["n_kept"] for r in docs_stratified_sample(spark, sf).collect()}
    # EVERY corpus stratum must appear in the output — sampleBy silently
    # drops unlisted strata, which this assert would catch
    assert set(first) == set(totals) == set(fractions)
    for lang, kept in first.items():
        n, p = totals[lang], fractions[lang]
        sigma = math.sqrt(n * p * (1 - p))
        assert abs(kept - n * p) <= 6 * sigma + 1, (lang, kept, n * p)
    second = {r["lang"]: r["n_kept"] for r in docs_stratified_sample(spark, sf).collect()}
    assert first == second  # fixed seed → deterministic


def test_sessionize_asof_tz_independent(spark, tmp_path):
    """Gap math subtracts TIMESTAMP_NTZ values directly (timestamp_diff),
    so sessionize and as-of join results are identical under any session
    timezone — including events spanning the US DST spring-forward, where
    an NTZ -> session-TZ round-trip would hit nonexistent local times."""
    import datetime as dt

    import pandas as pd

    from pdfparse_spark.pipeline.relational import events_asof_join, events_sessionize

    # events every 20 min across 2026-03-08 01:00-04:00 (US spring forward:
    # 02:00-03:00 America/New_York does not exist as a local wall time)
    base = dt.datetime(2026, 3, 8, 1, 0, 0)
    rows = []
    for i in range(10):
        ts = base + dt.timedelta(minutes=20 * i)
        rows.append((i, ts, 1, "click" if i % 2 == 0 else "purchase", 10.0, "{}"))
    # a >30min gap to split sessions, after the DST window
    rows.append((10, base + dt.timedelta(hours=5), 1, "click", 10.0, "{}"))
    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")  # Spark rejects NANOS parquet
    d = str(tmp_path)
    pdf.to_parquet(d + "/events.parquet")

    def run_both():
        sess = sorted(map(tuple, events_sessionize(spark, d).collect()))
        asof = sorted(map(tuple, events_asof_join(spark, d).collect()))
        return sess, asof

    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        utc = run_both()
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        nyc = run_both()
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)
    assert utc == nyc
    # sanity: the 5h jump opened a second session for user 1
    assert utc[0][0] == (1, 2, 11)


def test_split_extraction_matches_whole(spark):
    """Per-page-parallel extraction (heavy docs split into page-range
    segments, exact |Δy|>3 merge at boundaries) must be row-identical to
    whole-doc extraction — including a PDF whose page boundary does NOT
    break the line, and error-status fixtures."""
    import base64
    import datetime as dt

    from pdfparse_spark.fixtures.pdf_gen import (
        _assemble, _stream, build_pdf_fixtures, make_big_pdf)
    from pdfparse_spark.pipeline.extract import run_extraction
    from pdfparse_spark.pipeline.split_extract import run_extraction_split
    from pdfparse_spark.pipeline.transcripts import transcripts_df

    def as_turn(data):
        return "pdfb64:" + base64.b64encode(data).decode()

    # page 2 continues page 1's line (|Δy| = 1 <= 3): no boundary newline
    cont = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R 5 0 R] /Count 2 >>",
        3: b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
           b"/Resources << /Font << /F1 7 0 R >> >> /Contents 4 0 R >>",
        4: _stream(b"", b"BT /F1 12 Tf 72 500 Td (end of page one ) Tj ET"),
        5: b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
           b"/Resources << /Font << /F1 7 0 R >> >> /Contents 6 0 R >>",
        6: _stream(b"", b"BT /F1 12 Tf 72 501 Td (continues on page two) Tj ET"),
        7: b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    }
    payloads = [as_turn(make_big_pdf(40, 10, seed=5).data),   # heavy: 40 pages
                as_turn(make_big_pdf(9, 6, seed=2).data),     # heavy at threshold 8
                as_turn(_assemble(cont)),                     # light, boundary case
                "plain text turn", "<html><body><p>Hello para</p></body></html>"]
    payloads += [as_turn(fx.data) for fx in build_pdf_fixtures()]
    ts = dt.datetime(2026, 1, 1)
    rows = [("c%02d" % i, i, "user", p, "", ts) for i, p in enumerate(payloads)]
    df = transcripts_df(spark, rows, partitions=4)

    whole = {(r["conv_id"], r["turn_idx"]): r for r in run_extraction(df, 8).collect()}
    split = {(r["conv_id"], r["turn_idx"]): r
             for r in run_extraction_split(df, 8, page_threshold=8, pages_per_seg=3).collect()}
    assert set(whole) == set(split)
    for k in whole:
        w, s = whole[k], split[k]
        assert s["extracted_text"] == w["extracted_text"], k
        assert s["spans"] == w["spans"], k
        assert s["parse_status"] == w["parse_status"], k
        assert s["content_type"] == w["content_type"], k


def test_split_extraction_spreads_heavy_doc(spark):
    """The point of the split: one huge doc's segments land on MANY
    partitions instead of pinning one task."""
    import base64
    import datetime as dt

    from pyspark.sql import functions as F

    from pdfparse_spark.fixtures.pdf_gen import make_big_pdf
    from pdfparse_spark.pipeline.split_extract import (
        _PROBE_SCHEMA, _SEGMENT_SCHEMA, _probe_batch, _segment_batch)
    from pdfparse_spark.pipeline.transcripts import transcripts_df

    turn = "pdfb64:" + base64.b64encode(make_big_pdf(64, 8, seed=1).data).decode()
    df = transcripts_df(
        spark, [("conv", 0, "user", turn, "", dt.datetime(2026, 1, 1))], partitions=1)
    probe = df.select("conv_id", "turn_idx", "text").mapInPandas(
        _probe_batch, schema=_PROBE_SCHEMA)
    assert probe.collect()[0]["n_pages"] == 64
    segs = (
        df.join(F.broadcast(probe), ["conv_id", "turn_idx"])
        .withColumn("p_start", F.explode(F.sequence(F.lit(1), F.col("n_pages"), F.lit(8))))
        .withColumn("p_end", F.col("p_start") + F.lit(8))
        .withColumn("seg_idx", ((F.col("p_start") - 1) / F.lit(8)).cast("int"))
        .repartition(8, "conv_id", "turn_idx", "seg_idx")
    )
    out = segs.mapInPandas(_segment_batch, schema=_SEGMENT_SCHEMA)
    parts = out.select(F.spark_partition_id().alias("pid")).distinct().count()
    assert parts >= 4  # 8 segments over 8 partitions; hash collisions allowed


def test_run_extraction_device_variants(spark):
    """run_extraction(device=...) threads the layout policy through the
    Spark stage: the advance run differs from golden only by inserted
    spaces; the column run keeps statuses and glyph multiset per turn."""
    from pdfparse_spark.pipeline.extract import run_extraction
    from pdfparse_spark.pipeline.transcripts import synthesize

    df, _ = synthesize(spark, n_convs=6, turns_per_conv=5, seed=11)
    base = {(r["conv_id"], r["turn_idx"]): r
            for r in run_extraction(df, 8).collect()}
    adv = {(r["conv_id"], r["turn_idx"]): r
           for r in run_extraction(df, 8, device="advance").collect()}
    col = {(r["conv_id"], r["turn_idx"]): r
           for r in run_extraction(df, 8, device="column").collect()}
    assert set(base) == set(adv) == set(col)
    for k, b in base.items():
        assert adv[k]["parse_status"] == b["parse_status"]
        assert col[k]["parse_status"] == b["parse_status"]
        if b["content_type"] == "pdf":
            assert (adv[k]["extracted_text"].replace(" ", "")
                    == b["extracted_text"].replace(" ", "")), k
            assert (sorted(col[k]["extracted_text"].replace("\n", ""))
                    == sorted(b["extracted_text"].replace("\n", ""))), k
        else:  # non-pdf routes are device-independent
            assert adv[k]["extracted_text"] == b["extracted_text"]
            assert col[k]["extracted_text"] == b["extracted_text"]


def test_resume_with_split_pages_kill_rerun(spark, tmp_path):
    """Resumable runs with per-page splitting: kill after one wave, rerun,
    final output identical to a plain (non-split) resumable run — heavy
    doc included."""
    import base64
    import datetime as dt

    from pdfparse_spark.fixtures.pdf_gen import make_big_pdf
    from pdfparse_spark.pipeline.resume import read_output, run_resumable
    from pdfparse_spark.pipeline.transcripts import make_transcript_rows, transcripts_df

    rows, _ = make_transcript_rows(n_convs=6, turns_per_conv=4, seed=5)
    heavy = "pdfb64:" + base64.b64encode(make_big_pdf(40, 10, seed=9).data).decode()
    rows.append(("heavyconv", 0, "user", heavy, "", dt.datetime(2026, 1, 1)))
    df = transcripts_df(spark, rows, partitions=4)

    plain_out, plain_led = str(tmp_path / "po"), str(tmp_path / "pl")
    run_resumable(spark, df, plain_out, plain_led, n_buckets=4,
                  buckets_per_wave=2, num_partitions=4)
    split_out, split_led = str(tmp_path / "so"), str(tmp_path / "sl")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_resumable(spark, df, split_out, split_led, n_buckets=4,
                      buckets_per_wave=2, num_partitions=4,
                      split_pages=True, fail_after_waves=1)
    run_resumable(spark, df, split_out, split_led, n_buckets=4,
                  buckets_per_wave=2, num_partitions=4, split_pages=True)

    cols = ["conv_id", "turn_idx", "content_type", "parse_status",
            "n_chars", "extracted_text"]
    plain = {(r["conv_id"], r["turn_idx"]): tuple(r)
             for r in read_output(spark, plain_out, plain_led).select(*cols).collect()}
    split = {(r["conv_id"], r["turn_idx"]): tuple(r)
             for r in read_output(spark, split_out, split_led).select(*cols).collect()}
    assert plain == split
    assert ("heavyconv", 0) in plain


def test_real_decode_with_pil_if_available():
    """real_decode honours the same (n_bytes, width, height, n_frames)
    contract as _fake_decode wherever PIL exists; skipped in containers
    without a codec library (where it must raise NotImplementedError)."""
    import pytest

    from pdfparse_spark.pipeline.multimodal import real_decode

    try:
        from io import BytesIO

        from PIL import Image
    except ImportError:
        with pytest.raises(NotImplementedError):
            real_decode(b"\x89PNG\r\n\x1a\n")
        pytest.skip("PIL not installed; NotImplementedError contract verified")
    buf = BytesIO()
    Image.new("RGB", (320, 200)).save(buf, format="PNG")
    payload = buf.getvalue()
    assert real_decode(payload) == (len(payload), 320, 200, 1)


def test_tokens_vectorized_null_and_nbsp_parity(spark):
    """The pandas-UDF token surface must equal the JVM surface on NULL
    text (NULL, not 0/crash) and on non-ASCII whitespace (Java \\s is
    ASCII-only; Python's defaults are Unicode-wide)."""
    from pdfparse_spark.pipeline.pandas_udfs import _bpe_count, _ws_count

    rows = [(1, "hello world foo"), (2, None), (3, "a b c"), (4, ""),
            (5, "x  y\tz"), (6, "  ")]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    jvm = df.select(
        "doc_id",
        F.expr("size(filter(split(text, '\\\\s+'), w -> w != ''))").alias("ws"),
        F.expr("regexp_count(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\\\s]')").alias("bpe"),
    )
    udf = df.select("doc_id", _ws_count(F.col("text")).alias("ws"),
                    _bpe_count(F.col("text")).alias("bpe"))
    a = {r["doc_id"]: (r["ws"], r["bpe"]) for r in jvm.collect()}
    b = {r["doc_id"]: (r["ws"], r["bpe"]) for r in udf.collect()}
    assert a == b, {k: (a[k], b[k]) for k in a if a[k] != b[k]}
    assert a[2] == (None, None)


def test_events_anomaly_matches_numpy(spark):
    """events_anomaly's exact-integer z-scores must agree with a NumPy
    recomputation (population std, same ≥3σ cut) — pinning the algebra
    (n·u − S1)/sqrt(n·S2 − S1²) == (u − mean)/std up to the final
    rounding, and that the flagged set is exactly the tail."""
    import numpy as np

    from pdfparse_spark.pipeline.relational import events_anomaly

    got = {r["event_id"]: r["z_score"] for r in events_anomaly(spark, SF).collect()}
    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        "event_id", "event_type", "value"
    ).toPandas()
    want = {}
    for _, grp in ev.groupby("event_type"):
        u = np.round(grp["value"].to_numpy() * 1_000_000).astype(np.int64)
        n = len(u)
        s1, s2 = int(u.sum()), int((u.astype(object) ** 2).sum())
        den = float(n * s2 - s1 * s1) ** 0.5
        z = (n * u.astype(float) - s1) / den
        for eid, zi in zip(grp["event_id"], z):
            if abs(zi) >= 3.0:
                want[int(eid)] = zi
    assert set(got) == set(want)
    for eid, zr in got.items():
        assert abs(zr - want[eid]) < 5e-4, (eid, zr, want[eid])


def test_extract_dedup_parity_gate(spark):
    """Content-addressed extraction == per-turn extraction row-for-row on a
    corpus with cross-conversation duplicate payloads (incl. a NULL turn),
    and it genuinely deduplicates (distinct payloads << turns)."""
    import __spark_entry__ as e

    row = e._extract_dedup_parity(spark, SF).collect()[0]
    assert row["n_turns"] > 0
    assert row["n_identical"] == row["n_turns"]
    assert row["n_distinct_payloads"] * 6 == row["n_turns"]


def test_resumable_dedup_payloads_matches_plain(spark, tmp_path):
    """run_resumable(dedup_payloads=True) commits the same rows as the
    plain path (wave/ledger mechanics unchanged), and the exclusivity
    guard rejects telemetry composition."""
    import pytest

    from pdfparse_spark.pipeline.resume import read_output, run_resumable
    from pdfparse_spark.pipeline.transcripts import synthesize

    df, _ = synthesize(spark, n_convs=4, turns_per_conv=5, seed=3)
    a, b = str(tmp_path / "plain"), str(tmp_path / "dedup")
    for out_dir, dd in ((a, False), (b, True)):
        run_resumable(
            spark, df,
            out_dir=out_dir + "/extracted", ledger_dir=out_dir + "/ledger",
            n_buckets=4, buckets_per_wave=2, num_partitions=4,
            dedup_payloads=dd,
        )
    key = ["conv_id", "turn_idx"]
    pa = read_output(spark, a + "/extracted", a + "/ledger").select(
        *key, "extracted_text", "parse_status"
    )
    pb = read_output(spark, b + "/extracted", b + "/ledger").select(
        *key,
        F.col("extracted_text").alias("x"),
        F.col("parse_status").alias("s"),
    )
    j = pa.join(pb, key, "full_outer")
    assert pa.count() == df.count() == pb.count()
    assert j.filter(
        ~F.col("extracted_text").eqNullSafe(F.col("x"))
        | ~F.col("parse_status").eqNullSafe(F.col("s"))
    ).count() == 0
    with pytest.raises(ValueError):
        run_resumable(
            spark, df, out_dir=str(tmp_path / "x"), ledger_dir=str(tmp_path / "y"),
            dedup_payloads=True, telemetry=True,
        )


def test_extract_dedup_composes_with_split(spark, tmp_path):
    """dedup + split: a huge DISTINCT document duplicated across turns is
    extracted once AND page-split, with output identical to the plain
    per-turn path."""
    import base64
    import datetime as dt

    from pdfparse_spark.fixtures.pdf_gen import build_pdf_fixtures, make_big_pdf
    from pdfparse_spark.pipeline.extract import run_extraction, run_extraction_dedup
    from pdfparse_spark.pipeline.transcripts import transcripts_df

    big = "pdfb64:" + base64.b64encode(make_big_pdf(24, 8, seed=11).data).decode()
    small = "pdfb64:" + base64.b64encode(build_pdf_fixtures()[0].data).decode()
    ts = dt.datetime(2026, 1, 1)
    rows = [
        ("ds%02d" % c, i, "user", p, "", ts)
        for c in range(3)
        for i, p in enumerate([big, small, "plain text", None])
    ]
    df = transcripts_df(spark, rows, partitions=4)
    plain = run_extraction(df, num_partitions=8).select(
        "conv_id", "turn_idx", "extracted_text", "spans", "parse_status"
    )
    dd = run_extraction_dedup(df, num_partitions=8, split_pages=True).select(
        "conv_id",
        "turn_idx",
        F.col("extracted_text").alias("x"),
        F.col("spans").alias("sp"),
        F.col("parse_status").alias("s"),
    )
    j = plain.join(dd, ["conv_id", "turn_idx"], "full_outer")
    assert plain.count() == dd.count() == len(rows)
    assert j.filter(
        ~F.col("extracted_text").eqNullSafe(F.col("x"))
        | ~F.col("spans").eqNullSafe(F.col("sp"))
        | ~F.col("parse_status").eqNullSafe(F.col("s"))
    ).count() == 0
