"""Streaming front-end: micro-batch output must be byte-identical to the
batch path on the same rows, and restartable via the streaming checkpoint."""

from __future__ import annotations

from pyspark.sql import functions as F

from pdfparse_spark.pipeline.transcripts import synthesize
from pdfparse_spark.streaming import start_stream_extraction


def test_stream_matches_batch(spark, tmp_path):
    from pdfparse_spark.pipeline.extract import run_extraction

    df, _ = synthesize(spark, n_convs=6, turns_per_conv=5, seed=11)
    in_dir = str(tmp_path / "in")
    df.repartition(4).write.parquet(in_dir)

    out_dir = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    q = start_stream_extraction(spark, in_dir, out_dir, ck, num_partitions=4,
                                max_files_per_trigger=2)
    q.awaitTermination(120)

    got = spark.read.option("basePath", out_dir).parquet(out_dir + "/batch=*")
    expected = run_extraction(spark.read.parquet(in_dir), num_partitions=4)
    assert got.count() == df.count()
    key = ["conv_id", "turn_idx"]
    g = got.select(*key, "extracted_text", "parse_status")
    e = expected.select(*key, F.col("extracted_text").alias("x"), F.col("parse_status").alias("s"))
    j = g.join(e, key)
    mismatches = j.filter(
        ~F.col("extracted_text").eqNullSafe(F.col("x")) | (F.col("parse_status") != F.col("s"))
    ).count()
    assert mismatches == 0

    # restart with the same checkpoint: nothing new to process, no dupes
    q2 = start_stream_extraction(spark, in_dir, out_dir, ck, num_partitions=4)
    q2.awaitTermination(120)
    assert spark.read.option("basePath", out_dir).parquet(out_dir + "/batch=*").count() == df.count()


def test_stateful_conv_stats_across_restarts(spark, tmp_path):
    """applyInPandasWithState: running per-conv totals must survive a query
    restart via the checkpointed state store."""
    from pdfparse_spark.streaming.stateful import start_conv_stats_stream

    df, _ = synthesize(spark, n_convs=4, turns_per_conv=6, seed=13)
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    half1 = df.filter(F.col("turn_idx") < 3)
    half2 = df.filter(F.col("turn_idx") >= 3)
    half1.coalesce(1).write.mode("append").parquet(in_dir)

    q = start_conv_stats_stream(spark, in_dir, out_dir, ck)
    q.awaitTermination(120)
    got1 = spark.read.parquet(out_dir)
    latest1 = {r["conv_id"]: r["n_turns"] for r in got1.collect()}
    assert all(v == 3 for v in latest1.values()), latest1

    half2.coalesce(1).write.mode("append").parquet(in_dir)
    q2 = start_conv_stats_stream(spark, in_dir, out_dir, ck)
    q2.awaitTermination(120)
    got2 = spark.read.parquet(out_dir)
    # latest emitted row per conv carries the RUNNING total = all 6 turns
    import collections
    latest = collections.defaultdict(int)
    for r in got2.collect():
        latest[r["conv_id"]] = max(latest[r["conv_id"]], r["n_turns"])
    assert all(v == 6 for v in latest.values()), dict(latest)


def test_windowed_stats_watermark_append(spark, tmp_path):
    """Watermarked tumbling windows in append mode: closed windows emit
    exactly the batch aggregation's rows; windows the watermark has not
    passed stay unemitted (bounded state, late data folded until close)."""
    import datetime as dt

    from pdfparse_spark.pipeline.extract import OUTPUT_SCHEMA
    from pdfparse_spark.streaming.windowed import start_windowed_stats, windowed_turn_stats

    base = dt.datetime(2026, 1, 1, 12, 0, 0)

    def row(conv, idx, minute, second, ctype, n_chars, status="ok"):
        return (conv, idx, "user", "", base + dt.timedelta(minutes=minute, seconds=second),
                ctype, "x" * n_chars, [], status, n_chars)

    # file 1: three 1-minute windows' worth of turns, incl. a failed parse
    early = [
        row("c1", 0, 0, 5, "text", 10),
        row("c1", 1, 0, 50, "text", 20),
        row("c2", 0, 1, 10, "pdf", 30),
        row("c2", 1, 1, 40, "pdf", 0, "error:PSEOF"),
        row("c3", 0, 2, 30, "html", 40),
    ]
    # file 2: a sentinel far ahead — advances the watermark past all early
    # windows; its own window must NOT emit (watermark never passes it)
    sentinel = [row("c9", 0, 60, 0, "text", 1)]

    in_dir = tmp_path / "extracted"
    in_dir.mkdir()
    spark.createDataFrame(early, OUTPUT_SCHEMA).coalesce(1).write.parquet(str(in_dir / "f1"))
    spark.createDataFrame(sentinel, OUTPUT_SCHEMA).coalesce(1).write.parquet(str(in_dir / "f2"))

    out_dir, ck = str(tmp_path / "stats"), str(tmp_path / "ck")
    q = start_windowed_stats(spark, str(in_dir) + "/f*", out_dir, ck,
                             window_duration="1 minute", watermark_delay="2 minutes")
    q.awaitTermination(120)

    got = spark.read.parquet(out_dir)
    expected = windowed_turn_stats(spark.createDataFrame(early, OUTPUT_SCHEMA))
    assert got.count() == expected.count() == 3
    j = got.join(
        expected.select(
            F.col("win_start"), F.col("content_type").alias("ct"),
            F.col("n_turns").alias("nt"), F.col("total_chars").alias("tc"),
            F.col("n_ok").alias("nk"),
        ),
        "win_start",
    )
    bad = j.filter(
        (F.col("content_type") != F.col("ct")) | (F.col("n_turns") != F.col("nt"))
        | (F.col("total_chars") != F.col("tc")) | (F.col("n_ok") != F.col("nk"))
    ).count()
    assert bad == 0
    # the sentinel's own window never closed → not emitted
    assert got.filter(F.col("content_type") == "text").count() == 1


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Streaming exact dedup: duplicates within the watermark horizon are
    dropped; the surviving set matches batch dropDuplicates on text_hash."""
    import datetime as dt

    from pdfparse_spark.pipeline.transcripts import INPUT_SCHEMA
    from pdfparse_spark.streaming.dedup import dedup_stream, start_stream_dedup

    base = dt.datetime(2026, 1, 1, 9, 0, 0)

    def row(conv, idx, minute, text):
        return (conv, idx, "user", text, "", base + dt.timedelta(minutes=minute))

    rows = [
        row("c1", 0, 0, "alpha"),
        row("c1", 1, 1, "beta"),
        row("c2", 0, 2, "alpha"),   # dup of c1/0 within horizon → dropped
        row("c2", 1, 3, "gamma"),
        row("c3", 0, 4, "beta"),    # dup → dropped
        row("c4", 0, 5, None),      # null-text (tool turn): passes through
        row("c4", 1, 6, None),      # ... and does NOT collapse with c4/0
    ]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    spark.createDataFrame(rows, INPUT_SCHEMA).coalesce(1).write.parquet(str(in_dir / "f1"))

    out_dir, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    q = start_stream_dedup(spark, str(in_dir) + "/f*", out_dir, ck)
    q.awaitTermination(120)

    got = spark.read.parquet(out_dir)
    batch = dedup_stream(spark.createDataFrame(rows, INPUT_SCHEMA))
    assert got.count() == batch.count() == 5
    assert {r["text"] for r in got.collect()} == {"alpha", "beta", "gamma", None}
    assert got.filter("text is null").count() == 2  # both tool turns kept


def test_streaming_sessions_watermark_append(spark, tmp_path):
    """Native session_window sessionization in append mode: sessions closed
    by the watermark emit exactly the batch aggregation's rows; the
    sentinel's own (still-open) session stays unemitted."""
    import datetime as dt

    from pdfparse_spark.pipeline.extract import OUTPUT_SCHEMA
    from pdfparse_spark.streaming.sessions import conv_sessions, start_conv_sessions

    base = dt.datetime(2026, 1, 1, 12, 0, 0)

    def row(conv, idx, minute, second, n_chars, status="ok"):
        return (conv, idx, "user", "", base + dt.timedelta(minutes=minute, seconds=second),
                "text", "x" * n_chars, [], status, n_chars)

    # c1: two sessions (turns at 0-1 min, then a >5 min quiet gap, then 10 min)
    # c2: one session with a failed parse inside
    early = [
        row("c1", 0, 0, 10, 10),
        row("c1", 1, 1, 0, 20),
        row("c1", 2, 10, 0, 30),
        row("c2", 0, 2, 0, 40),
        row("c2", 1, 3, 0, 0, "error:PSEOF"),
    ]
    sentinel = [row("c9", 0, 120, 0, 1)]

    in_dir = tmp_path / "extracted"
    in_dir.mkdir()
    spark.createDataFrame(early, OUTPUT_SCHEMA).coalesce(1).write.parquet(str(in_dir / "f1"))
    spark.createDataFrame(sentinel, OUTPUT_SCHEMA).coalesce(1).write.parquet(str(in_dir / "f2"))

    out_dir, ck = str(tmp_path / "sessions"), str(tmp_path / "ck")
    q = start_conv_sessions(spark, str(in_dir) + "/f*", out_dir, ck,
                            gap="5 minutes", watermark_delay="10 minutes")
    q.awaitTermination(120)

    got = {(r["conv_id"], r["sess_start"]): (r["n_turns"], r["total_chars"], r["n_ok"])
           for r in spark.read.parquet(out_dir).collect()}
    expected = {(r["conv_id"], r["sess_start"]): (r["n_turns"], r["total_chars"], r["n_ok"])
                for r in conv_sessions(
                    spark.createDataFrame(early, OUTPUT_SCHEMA)).collect()}
    assert got == expected
    assert len(got) == 3  # c1 x2 sessions + c2 x1; sentinel session unemitted


def test_streaming_bands_match_batch(spark):
    """minhash_cols' per-row HOF signature/band computation must be
    bit-identical to the batch explode + groupBy-min path it mirrors
    (textops.dedup_minhash_lsh's signature stage) — two independent plan
    shapes, one hash family."""
    from pdfparse_spark.pipeline.textdedup import minhash_band_rows
    from pdfparse_spark.streaming.neardup import minhash_cols

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(sf + "/documents.parquet").select("doc_id", "text")

    # the REAL batch stage (the one dedup_minhash_lsh executes), not a copy
    batch: dict = {}
    for r in minhash_band_rows(spark, sf).collect():
        batch.setdefault(r["doc_id"], []).append(r["band_key"])
    batch = {k: sorted(v) for k, v in batch.items()}

    stream_style = {r["doc_id"]: sorted(r["bands"]) for r in
                    minhash_cols(docs).filter(F.col("has_sig"))
                    .select("doc_id", "bands").collect()}
    assert set(batch) == set(stream_style)
    assert batch == stream_style


def test_stream_neardup_minhash(spark, tmp_path):
    """Streaming near-dup: exact and near duplicates arriving later are
    flagged with the correct dup_of; distinct text passes clean; a
    checkpointed restart emits nothing new."""
    import datetime as dt

    from pdfparse_spark.pipeline.transcripts import INPUT_SCHEMA

    base = dt.datetime(2026, 1, 1, 9, 0, 0)
    long_text = ("the quick brown fox jumps over the lazy dog while the "
                 "patient grey owl watches from a tall oak tree near the "
                 "quiet river bend at dusk every single evening")

    def row(conv, idx, minute, text):
        return (conv, idx, "user", text, "", base + dt.timedelta(minutes=minute))

    rows = [
        row("c1", 0, 0, long_text),
        row("c1", 1, 1, "completely unrelated words about spark physical plans"),
        row("c2", 0, 2, long_text),                      # exact dup of c1#0
        row("c2", 1, 3, long_text + " tonight"),         # near dup of c1#0
        row("c3", 0, 4, "another distinct text mentioning broadcast joins"),
    ]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    spark.createDataFrame(rows, INPUT_SCHEMA).coalesce(1).write.parquet(str(in_dir / "f1"))

    from pdfparse_spark.streaming.neardup import (
        read_neardup_verdicts, start_stream_neardup,
    )

    out_dir, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    # default state_ttl_minutes="auto" resolves to NoTimeout for this
    # availableNow backfill, so the query terminates at end of input
    q = start_stream_neardup(spark, str(in_dir) + "/f*", out_dir, ck)
    q.awaitTermination(120)

    got = {r["id"]: (r["is_dup"], r["dup_of"], r["est_j"])
           for r in read_neardup_verdicts(spark, out_dir).collect()}
    assert len(got) == 5
    assert got["c1#0"] == (False, None, None)
    assert got["c1#1"][0] is False
    assert got["c2#0"] == (True, "c1#0", 1.0)            # exact dup: est 1.0
    assert got["c2#1"][0] is True and got["c2#1"][1] in ("c1#0", "c2#0")
    assert got["c2#1"][2] >= 0.5
    assert got["c3#0"][0] is False

    q2 = start_stream_neardup(spark, str(in_dir) + "/f*", out_dir, ck)
    q2.awaitTermination(120)
    assert read_neardup_verdicts(spark, out_dir).count() == 5


def test_stream_neardup_matches_batch_simulation(spark, tmp_path):
    """Corpus-level pin: streaming near-dup over the 500-doc sf0.001
    documents table must agree row-for-row with an independent driver-side
    simulation of the band-bucket protocol (same signatures, same
    arrival-order matching), including est_j values."""
    import datetime as dt

    from pdfparse_spark.pipeline.textdedup import MINHASH_PERMS as _MINHASH_PERMS
    from pdfparse_spark.pipeline.transcripts import INPUT_SCHEMA
    from pdfparse_spark.streaming.neardup import (
        minhash_cols, read_neardup_verdicts, start_stream_neardup,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    base = dt.datetime(2026, 1, 1, 0, 0, 0)
    rows = [
        (str(r["doc_id"]), 0, "user", r["text"], "",
         base + dt.timedelta(seconds=int(r["doc_id"])))
        for r in docs.collect()
    ]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    spark.createDataFrame(rows, INPUT_SCHEMA).coalesce(1).write.parquet(str(in_dir / "f1"))

    out_dir, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    q = start_stream_neardup(spark, str(in_dir) + "/f*", out_dir, ck,
                             state_cap=64, state_ttl_minutes=None)
    q.awaitTermination(180)
    got = {r["id"]: (r["is_dup"], r["dup_of"], r["est_j"])
           for r in read_neardup_verdicts(spark, out_dir).collect()}

    # independent simulation from the batch-parity-pinned sig/bands columns
    sigbands = sorted(
        ((int(r["doc_id"]), list(r["sig"]), list(r["bands"]))
         for r in minhash_cols(docs)
         .filter("has_sig").select("doc_id", "sig", "bands").collect()),
        key=lambda t: t[0],
    )
    from decimal import ROUND_HALF_UP, Decimal

    buckets: dict = {}
    expected = {}
    for did, sig, bands in sigbands:
        rid = "%d#0" % did
        # mirror the updater: best over ALL stored entries (no threshold
        # gate), max est then lexicographically smallest id
        best_est, best_id = -1.0, ""
        for bk in bands:
            for sid, ssig in buckets.get(bk, []):
                est = sum(a == b for a, b in zip(sig, ssig)) / _MINHASH_PERMS
                if est > best_est or (est == best_est and sid < best_id):
                    best_est, best_id = est, sid
        for bk in bands:
            buckets.setdefault(bk, []).append((rid, sig))
        expected[rid] = (best_est, best_id)

    def fold(thr):
        out = {}
        for rid, (best_est, best_id) in expected.items():
            if best_est >= thr:
                # F.round is HALF_UP; python round() is banker's — est
                # values are exact dyadic k/32, so the modes differ
                est4 = float(Decimal(str(best_est)).quantize(
                    Decimal("0.0001"), rounding=ROUND_HALF_UP))
                out[rid] = (True, best_id, est4)
            else:
                out[rid] = (False, None, None)
        return out

    exp05 = fold(0.5)
    assert set(got) == set(exp05)
    assert sum(1 for v in exp05.values() if v[0]) > 0  # corpus has near-dups
    mismatches = {k: (got[k], exp05[k]) for k in exp05 if got[k] != exp05[k]}
    assert not mismatches, dict(list(mismatches.items())[:5])

    # the sink stores TRUE best estimates, so re-thresholding at read time
    # works in BOTH directions — a looser cut finds at least as many dups
    got025 = {r["id"]: (r["is_dup"], r["dup_of"], r["est_j"])
              for r in read_neardup_verdicts(spark, out_dir, threshold=0.25).collect()}
    exp025 = fold(0.25)
    assert got025 == exp025
    n05 = sum(1 for v in exp05.values() if v[0])
    n025 = sum(1 for v in exp025.values() if v[0])
    assert n025 >= n05


def test_stream_anomaly_moments_match_batch(spark, tmp_path):
    """Replaying the events table through the streaming moment tracker in
    multi-file micro-batches must finish with per-type (n, S1, S2) that
    are BIT-IDENTICAL to the batch aggregate (exact integers — no
    summation-order drift), and scoring against the final moments must
    reproduce the batch events_anomaly set row-for-row."""
    from pdfparse_spark.pipeline.relational import events_anomaly
    from pdfparse_spark.streaming.anomaly import (
        start_anomaly_stream,
        with_anomaly_units,
    )

    sf = "/root/testdata/sf0.001"
    events = spark.read.parquet(f"{sf}/events.parquet")
    in_dir = str(tmp_path / "in")
    events.repartition(5).write.parquet(in_dir)

    out_dir, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    q = start_anomaly_stream(spark, in_dir, out_dir, ck, max_files_per_trigger=2)
    q.awaitTermination(120)

    sink = spark.read.parquet(out_dir)
    final = {
        r["event_type"]: (int(r["s2"]), int(r["s1"]), r["n"])
        for r in sink.orderBy("n").collect()  # last write per type wins
    }
    # exact batch moments over the identical Spark-side u column
    batch = {
        r["event_type"]: (int(r["s2"]), int(r["s1"]), r["n"])
        for r in with_anomaly_units(events)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("u").alias("s1"),
            F.sum(F.col("u").cast("decimal(38,0)") * F.col("u")).alias("s2"),
        )
        .collect()
    }
    assert final == batch
    # stateless z scoring against the final streaming moments == batch op
    want = {r["event_id"] for r in events_anomaly(spark, sf).collect()}
    got = set()
    import math

    from pdfparse_spark.streaming.anomaly import _SCALE

    uu = {
        r["event_id"]: (r["event_type"], r["u"])
        for r in events.select(
            "event_id",
            "event_type",
            F.round(F.col("value") * _SCALE, 0).cast("long").alias("u"),
        ).collect()
    }
    for eid, (etype, u) in uu.items():
        s2, s1, n = final[etype]
        var = n * s2 - s1 * s1
        if var > 0 and abs((n * u - s1) / math.sqrt(var)) >= 3.0:
            got.add(eid)
    assert got == want


def test_stream_extract_dedup_cache_across_batches(spark, tmp_path):
    """Content-addressed streaming extraction: the kernel runs exactly once
    per distinct payload over the stream's lifetime (cache rows across all
    batch dirs == distinct payloads ever seen), outputs are byte-identical
    to the batch path, and a checkpoint restart with a second drop reuses
    the cache instead of re-extracting shared payloads."""
    from pdfparse_spark.pipeline.extract import run_extraction
    from pdfparse_spark.streaming import start_stream_extraction_dedup

    df, _ = synthesize(spark, n_convs=6, turns_per_conv=5, seed=11)
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    cache_dir = str(tmp_path / "cache")
    ck = str(tmp_path / "ck")

    half1 = df.filter(F.col("turn_idx") < 3)
    half2 = df.filter(F.col("turn_idx") >= 3)
    half1.coalesce(1).write.mode("append").parquet(in_dir)
    q = start_stream_extraction_dedup(
        spark, in_dir, out_dir, cache_dir, ck, num_partitions=4
    )
    q.awaitTermination(120)

    from pdfparse_spark.pipeline.extract import payload_key

    key = payload_key()
    n_distinct_1 = half1.select(key.alias("k")).distinct().count()
    cache1 = spark.read.option("basePath", cache_dir).parquet(cache_dir + "/ck=*/batch=*")
    assert cache1.count() == n_distinct_1  # extract-once, wave 1

    half2.coalesce(1).write.mode("append").parquet(in_dir)
    q2 = start_stream_extraction_dedup(
        spark, in_dir, out_dir, cache_dir, ck, num_partitions=4
    )
    q2.awaitTermination(120)

    n_distinct_all = df.select(key.alias("k")).distinct().count()
    cache2 = spark.read.option("basePath", cache_dir).parquet(cache_dir + "/ck=*/batch=*")
    # lifetime extract-once invariant: every cache row is a distinct payload
    assert cache2.count() == n_distinct_all
    assert cache2.select("payload_sha").distinct().count() == n_distinct_all

    got = spark.read.option("basePath", out_dir).parquet(out_dir + "/batch=*")
    assert got.count() == df.count()
    expected = run_extraction(spark.read.parquet(in_dir), num_partitions=4)
    j = got.select(
        "conv_id", "turn_idx", "extracted_text", "parse_status"
    ).join(
        expected.select(
            "conv_id",
            "turn_idx",
            F.col("extracted_text").alias("x"),
            F.col("parse_status").alias("s"),
        ),
        ["conv_id", "turn_idx"],
    )
    mismatches = j.filter(
        ~F.col("extracted_text").eqNullSafe(F.col("x")) | (F.col("parse_status") != F.col("s"))
    ).count()
    assert mismatches == 0


def test_signlsh_cols_match_batch_band_keys(spark):
    """The per-row streaming band-key columns must be the SAME keys the
    batch signlsh_band_keys explode produces — same hyperplane literal,
    same fold — for every vector in the corpus."""
    from pdfparse_spark.pipeline.corpus import emb_norm as _emb_norm, read_emb as _emb
    from pdfparse_spark.pipeline.embed import signlsh_band_keys
    from pdfparse_spark.streaming.embed_neardup import signlsh_cols

    sf = "/root/testdata/sf0.001"
    import pyspark.sql.functions as F

    got = {
        (r["vec_id"], r["band_key"])
        for r in signlsh_cols(_emb(spark, sf))
        .select("vec_id", F.explode("bands").alias("band_key"))
        .collect()
    }
    want = {
        (r["vec_id"], r["band_key"])
        for r in signlsh_band_keys(_emb_norm(spark, sf))
        .select("vec_id", "band_key")
        .collect()
    }
    assert got == want


def test_stream_embed_neardup_matches_batch(spark, tmp_path):
    """Replay parity: the full sf0.001 embeddings corpus streamed through
    the sign-LSH band-state detector (two file drops, cap large enough
    that nothing evicts, no TTL) must reproduce dedup_embedding_cosine's
    pair set WITH bit-identical cos_sim values — the Python left-fold dot
    over the same doubles cannot drift from the JVM fold, and rounding/
    thresholding happen JVM-side at read time."""
    from pdfparse_spark.pipeline.embed import dedup_embedding_cosine
    from pdfparse_spark.streaming.embed_neardup import (
        read_embed_neardup,
        start_stream_embed_neardup,
    )

    sf = "/root/testdata/sf0.001"
    base = spark.read.parquet(sf + "/embeddings.parquet")
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    # split by vec_id so cross-batch pairs must meet through the STATE
    # (pair direction is irrelevant: min/max normalization + symmetric dot)
    base.filter("vec_id < 250").coalesce(1).write.parquet(str(in_dir / "f1"))
    base.filter("vec_id >= 250").coalesce(1).write.parquet(str(in_dir / "f2"))

    out_dir, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    q = start_stream_embed_neardup(
        spark, str(in_dir) + "/f*", out_dir, ck, state_cap=512
    )
    q.awaitTermination(180)

    got = {
        (r["vec_a"], r["vec_b"], r["cos_sim"])
        for r in read_embed_neardup(spark, out_dir).collect()
    }
    want = {
        (r["vec_a"], r["vec_b"], r["cos_sim"])
        for r in dedup_embedding_cosine(spark, sf).collect()
    }
    assert len(want) > 0
    assert got == want

    # checkpointed restart over the same input emits nothing new
    q2 = start_stream_embed_neardup(
        spark, str(in_dir) + "/f*", out_dir, ck, state_cap=512
    )
    q2.awaitTermination(180)
    assert {
        (r["vec_a"], r["vec_b"], r["cos_sim"])
        for r in read_embed_neardup(spark, out_dir).collect()
    } == want


def test_stream_index_append_replay_stable(spark, tmp_path):
    """Streaming ingestion into a built IVF+PQ index: two embedding file
    drops stream into their own ingest partitions; the planted near-copy
    becomes searchable (rank 1, cos > 0.999); and a full checkpointed
    replay leaves the index contents EXACTLY unchanged (dynamic partition
    overwrite — no duplicate rows under at-least-once execution)."""
    import pyspark.sql.functions as F

    from pdfparse_spark.pipeline.ann_index import (
        build_ivfpq_index,
        search_ivfpq_index,
        start_stream_index_append,
    )

    sf = "/root/testdata/sf0.001"
    idx = str(tmp_path / "idx")
    build_ivfpq_index(spark, sf, idx)

    base = spark.read.parquet(sf + "/embeddings.parquet")
    q_vec = base.filter(F.col("vec_id") == 100).collect()[0]["embedding"]
    planted = [float(x) + 0.001 * ((i % 3) - 1) for i, x in enumerate(q_vec)]
    new1 = spark.createDataFrame(
        [(501, planted, 0)], "vec_id long, embedding array<float>, label int"
    )
    new2 = spark.createDataFrame(
        [(502, [float(i % 7) for i in range(64)], 0)],
        "vec_id long, embedding array<float>, label int",
    )
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    new1.coalesce(1).write.parquet(str(in_dir / "f1"))
    new2.coalesce(1).write.parquet(str(in_dir / "f2"))

    ck = str(tmp_path / "ck")
    q = start_stream_index_append(spark, str(in_dir) + "/f*", idx, ck)
    q.awaitTermination(120)

    vecs = spark.read.parquet(idx + "/vectors")
    assert vecs.count() == 502
    assert vecs.filter(F.col("ingest") != "base").count() == 2

    # replay: simulate a crash AFTER the offsets log but BEFORE the
    # commit of the last batch (delete its commits entry) — the restart
    # genuinely re-runs that batch, and the contents must come out
    # byte-identical (the batch rewrites its own ingest partition).
    # Merely restarting a completed checkpoint would process nothing and
    # prove nothing.
    import os

    commits = sorted(
        f for f in os.listdir(ck + "/commits") if not f.startswith(".")
    )
    os.remove(ck + "/commits/" + commits[-1])
    crc = ck + "/commits/." + commits[-1] + ".crc"
    if os.path.exists(crc):  # Hadoop LocalFS checksum sibling
        os.remove(crc)
    before = sorted(
        (r["vec_id"], r["cell"], tuple(r["codes"])) for r in vecs.collect()
    )
    q2 = start_stream_index_append(spark, str(in_dir) + "/f*", idx, ck)
    q2.awaitTermination(120)
    after = sorted(
        (r["vec_id"], r["cell"], tuple(r["codes"]))
        for r in spark.read.parquet(idx + "/vectors").collect()
    )
    assert after == before

    # the planted near-copy is searchable: extend the corpus the refine
    # step reads and expect rank 1 with near-perfect cosine
    corpus = str(tmp_path / "corpus")
    base.unionByName(new1).unionByName(new2).write.parquet(
        corpus + "/embeddings.parquet"
    )
    hits = {
        (r["query_id"], r["neighbor_id"]): (r["rank"], r["cos_sim"])
        for r in search_ivfpq_index(spark, corpus, idx).collect()
    }
    rank, cos = hits[(100, 501)]
    assert rank == 1 and cos > 0.999


def test_stream_bloom_dedup_flags_dups_across_batches(spark, tmp_path):
    """Sharded-Bloom streaming dedup: first occurrence of a text misses,
    every later occurrence hits — within a micro-batch, across batches,
    and across conversations; distinct texts stay unflagged (FP odds at
    this fill are ~1e-7 and the draw is deterministic); null-text turns
    produce no verdict."""
    import datetime as dt

    from pdfparse_spark.pipeline.transcripts import INPUT_SCHEMA
    from pdfparse_spark.streaming.bloom_dedup import (
        read_bloom_verdicts,
        start_stream_bloom_dedup,
    )

    base = dt.datetime(2026, 1, 1, 9, 0, 0)

    def row(conv, idx, minute, text):
        return (conv, idx, "user", text, "", base + dt.timedelta(minutes=minute))

    batch1 = [
        row("c1", 0, 0, "alpha alpha alpha"),
        row("c1", 1, 1, "beta beta"),
        row("c2", 0, 2, "alpha alpha alpha"),  # within-batch dup
        row("c2", 1, 3, None),                 # tool turn: no verdict
    ]
    batch2 = [
        row("c3", 0, 10, "beta beta"),         # cross-batch dup
        row("c3", 1, 11, "gamma"),
        row("c4", 0, 12, "gamma"),             # within-batch dup
        row("c4", 1, 13, "delta"),
    ]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    spark.createDataFrame(batch1, INPUT_SCHEMA).coalesce(1).write.parquet(str(in_dir / "f1"))
    spark.createDataFrame(batch2, INPUT_SCHEMA).coalesce(1).write.parquet(str(in_dir / "f2"))

    out_dir, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    q = start_stream_bloom_dedup(spark, str(in_dir) + "/f*", out_dir, ck)
    q.awaitTermination(120)

    got = {r["id"]: r["bloom_hit"] for r in read_bloom_verdicts(spark, out_dir).collect()}
    assert got == {
        "c1#0": 0, "c1#1": 0, "c2#0": 1,
        "c3#0": 1, "c3#1": 0, "c4#0": 1, "c4#1": 0,
    }

    # restart on the SAME checkpoint with no new input: replay-stable,
    # nothing re-emitted
    q2 = start_stream_bloom_dedup(spark, str(in_dir) + "/f*", out_dir, ck)
    q2.awaitTermination(120)
    assert read_bloom_verdicts(spark, out_dir).count() == 7


def test_stream_bloom_dedup_state_survives_restart(spark, tmp_path):
    """The shard bitsets live in the state store: a NEW file dropped after
    the first availableNow run finishes must still dedup against texts
    seen BEFORE the restart (bits round-trip through checkpoint state),
    and re-list the old files without re-emitting them."""
    import datetime as dt

    from pdfparse_spark.pipeline.transcripts import INPUT_SCHEMA
    from pdfparse_spark.streaming.bloom_dedup import (
        read_bloom_verdicts,
        start_stream_bloom_dedup,
    )

    base = dt.datetime(2026, 1, 1, 9, 0, 0)

    def row(conv, idx, minute, text):
        return (conv, idx, "user", text, "", base + dt.timedelta(minutes=minute))

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    spark.createDataFrame(
        [row("c1", 0, 0, "epsilon words"), row("c1", 1, 1, "zeta words")],
        INPUT_SCHEMA,
    ).coalesce(1).write.parquet(str(in_dir / "f1"))

    out_dir, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    q = start_stream_bloom_dedup(spark, str(in_dir) + "/f*", out_dir, ck)
    q.awaitTermination(120)
    got = {r["id"]: r["bloom_hit"] for r in read_bloom_verdicts(spark, out_dir).collect()}
    assert got == {"c1#0": 0, "c1#1": 0}

    # new drop AFTER the first query finished: one dup of a pre-restart
    # text, one fresh text
    spark.createDataFrame(
        [row("c2", 0, 10, "epsilon words"), row("c2", 1, 11, "fresh words")],
        INPUT_SCHEMA,
    ).coalesce(1).write.parquet(str(in_dir / "f2"))
    q2 = start_stream_bloom_dedup(spark, str(in_dir) + "/f*", out_dir, ck)
    q2.awaitTermination(120)
    got = {r["id"]: r["bloom_hit"] for r in read_bloom_verdicts(spark, out_dir).collect()}
    assert got == {"c1#0": 0, "c1#1": 0, "c2#0": 1, "c2#1": 0}


def test_stream_bloom_index_durable_and_replay_stable(spark, tmp_path):
    """Streaming maintenance of the persisted Bloom index: a base-indexed
    text hits from batch one, cross-batch dups hit via delta partitions,
    within-batch dups via the exact window; a checkpoint restart with no
    new input re-emits nothing, and a post-restart drop still dedups
    against everything indexed before it."""
    import datetime as dt

    from pdfparse_spark.pipeline.bloom_index import (
        build_bloom_index,
        start_stream_bloom_index,
    )
    from pdfparse_spark.pipeline.transcripts import INPUT_SCHEMA

    base = dt.datetime(2026, 1, 1, 9, 0, 0)

    def row(conv, idx, minute, text):
        return (conv, idx, "user", text, "", base + dt.timedelta(minutes=minute))

    idx_dir = str(tmp_path / "idx")
    yesterday = spark.createDataFrame(
        [(0, "yesterday crawl doc words")], "doc_id long, text string"
    )
    build_bloom_index(spark, yesterday, idx_dir)

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    spark.createDataFrame(
        [
            row("c1", 0, 0, "yesterday crawl doc words"),  # hits the BASE index
            row("c1", 1, 1, "alpha alpha"),
            row("c1", 2, 2, "alpha alpha"),                # within-batch dup
            row("c1", 3, 3, None),                         # tool turn: skipped
        ],
        INPUT_SCHEMA,
    ).coalesce(1).write.parquet(str(in_dir / "f1"))
    spark.createDataFrame(
        [
            row("c2", 0, 10, "alpha alpha"),               # cross-batch via delta
            row("c2", 1, 11, "beta beta"),
        ],
        INPUT_SCHEMA,
    ).coalesce(1).write.parquet(str(in_dir / "f2"))

    out_dir, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    q = start_stream_bloom_index(spark, str(in_dir) + "/f*", out_dir, idx_dir, ck)
    q.awaitTermination(120)
    got = {r["id"]: r["bloom_hit"] for r in spark.read.parquet(out_dir).collect()}
    assert got == {"c1#0": 1, "c1#1": 0, "c1#2": 1, "c2#0": 1, "c2#1": 0}

    # restart, no new input: nothing re-emitted, deltas byte-stable
    q2 = start_stream_bloom_index(spark, str(in_dir) + "/f*", out_dir, idx_dir, ck)
    q2.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == 5

    # post-restart drop dedups against base + both deltas
    spark.createDataFrame(
        [row("c3", 0, 20, "beta beta"), row("c3", 1, 21, "gamma fresh")],
        INPUT_SCHEMA,
    ).coalesce(1).write.parquet(str(in_dir / "f3"))
    q3 = start_stream_bloom_index(spark, str(in_dir) + "/f*", out_dir, idx_dir, ck)
    q3.awaitTermination(120)
    got = {r["id"]: r["bloom_hit"] for r in spark.read.parquet(out_dir).collect()}
    assert got["c3#0"] == 1 and got["c3#1"] == 0 and len(got) == 7

    # BATCH probe sees stream-indexed texts through the delta partitions
    # (no compaction yet), and compaction folds them into the base words
    from pdfparse_spark.pipeline.bloom_index import (
        bloom_index_stats,
        compact_bloom_deltas,
        probe_bloom_index,
    )

    crawl = spark.createDataFrame(
        [(0, "gamma fresh"), (1, "totally novel text")], "doc_id long, text string"
    )
    hits = {r["doc_id"]: r["bloom_hit"] for r in probe_bloom_index(spark, crawl, idx_dir).collect()}
    assert hits == {0: 1, 1: 0}
    # base-only view misses the streamed text until compaction...
    base_only = {
        r["doc_id"]: r["bloom_hit"]
        for r in probe_bloom_index(spark, crawl, idx_dir, include_deltas=False).collect()
    }
    assert base_only[0] == 0
    before = bloom_index_stats(spark, idx_dir)
    compact_bloom_deltas(spark, idx_dir)
    after_base = {
        r["doc_id"]: r["bloom_hit"]
        for r in probe_bloom_index(spark, crawl, idx_dir, include_deltas=False).collect()
    }
    assert after_base == {0: 1, 1: 0}
    # compaction changes where bits live, not which bits are set
    assert bloom_index_stats(spark, idx_dir) == before


def test_stream_bloom_join_path_releases_checkpoints(spark, tmp_path):
    """Past the literal cutover each micro-batch checkpoints its word
    frame for the k join legs; the stream must release every such block
    once the batch is written, so a long-lived stream holds none."""
    import datetime as dt

    from pdfparse_spark.pipeline.artifact import persistent_rdd_ids
    from pdfparse_spark.pipeline.bloom_index import start_stream_bloom_index
    from pdfparse_spark.pipeline.transcripts import INPUT_SCHEMA

    ts = dt.datetime(2026, 1, 1, 9, 0, 0)
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for i, texts in enumerate((["alpha alpha", "beta beta"], ["alpha alpha"])):
        spark.createDataFrame(
            [("c%d" % i, j, "user", t, "", ts) for j, t in enumerate(texts)],
            INPUT_SCHEMA,
        ).coalesce(1).write.parquet(str(in_dir / ("f%d" % i)))

    out_dir = str(tmp_path / "out")
    before = persistent_rdd_ids(spark)
    q = start_stream_bloom_index(
        spark, str(in_dir) + "/f*", out_dir, str(tmp_path / "idx"),
        str(tmp_path / "ck"), bits=1 << 25,
    )
    q.awaitTermination(120)
    got = {r["id"]: r["bloom_hit"] for r in spark.read.parquet(out_dir).collect()}
    assert got == {"c0#0": 0, "c0#1": 0, "c1#0": 1}
    assert persistent_rdd_ids(spark) == before


def test_stream_dsir_score_matches_batch(spark, tmp_path):
    """Streaming DSIR scoring with a persisted model: two document file
    drops score per micro-batch; the union of batch outputs equals the
    batch score_with_dsir_model over the same docs row-for-row (per-doc
    scores have no cross-row state, so micro-batch boundaries cannot
    change verdicts), and a replayed batch rewrites its own partition
    with identical rows."""
    import os

    import pyspark.sql.functions as F

    from pdfparse_spark.pipeline.dsir_model import (
        score_with_dsir_model,
        start_stream_dsir_score,
        train_dsir_model,
    )
    from pdfparse_spark.pipeline.corpus import read_docs as _docs
    from pdfparse_spark.pipeline.dsir_model import _DSIR_TARGET_MOD

    sf = "/root/testdata/sf0.001"
    d = _docs(spark, sf)
    raw = d.filter(f"doc_id % {_DSIR_TARGET_MOD} != 0")
    tgt = d.filter(f"doc_id % {_DSIR_TARGET_MOD} = 0")
    model = str(tmp_path / "model")
    train_dsir_model(spark, raw, tgt, model, buckets=1024)

    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    docs = spark.read.parquet(sf + "/documents.parquet").select(*cols)
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    half1 = docs.filter(F.col("doc_id") % 2 == 0)
    half2 = docs.filter(F.col("doc_id") % 2 == 1)
    half1.coalesce(1).write.parquet(str(in_dir / "f1"))
    half2.coalesce(1).write.parquet(str(in_dir / "f2"))

    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    q = start_stream_dsir_score(spark, str(in_dir) + "/f*", out, model, ck)
    q.awaitTermination(120)

    streamed = {
        r["doc_id"]: (r["n_feats"], r["log_w"], r["keep"])
        for r in spark.read.parquet(out + "/batch=*").collect()
    }
    batch = {
        r["doc_id"]: (r["n_feats"], r["log_w"], r["keep"])
        for r in score_with_dsir_model(spark, docs, model).collect()
    }
    assert streamed == batch and len(streamed) == docs.count()

    # replay the last batch (delete its commit entry): its partition is
    # rewritten with identical rows — no dups, no changed verdicts
    commits = sorted(
        f for f in os.listdir(ck + "/commits") if not f.startswith(".")
    )
    os.remove(ck + "/commits/" + commits[-1])
    crc = ck + "/commits/." + commits[-1] + ".crc"
    if os.path.exists(crc):
        os.remove(crc)
    q2 = start_stream_dsir_score(spark, str(in_dir) + "/f*", out, model, ck)
    q2.awaitTermination(120)
    replayed = {
        r["doc_id"]: (r["n_feats"], r["log_w"], r["keep"])
        for r in spark.read.parquet(out + "/batch=*").collect()
    }
    assert replayed == streamed


def test_stream_decon_matches_gate_ops(spark, tmp_path):
    """Streaming decontamination against a persisted benchmark index: the
    union of batch outputs equals the batch score_with_decon_index
    row-for-row, both agree with the oracled gate ops on the gate's own
    corpus split (no shingle exceeds the df cap there), and a replayed
    batch rewrites its own partition with identical rows."""
    import os

    import pyspark.sql.functions as F

    from pdfparse_spark.pipeline.decon_index import (
        build_decon_index,
        read_decon_verdicts,
        score_with_decon_index,
        start_stream_decon,
    )
    from pdfparse_spark.pipeline.corpus import read_docs as _docs
    from pdfparse_spark.pipeline.decon_index import (
        DECON_BENCH_MOD as _DECON_BENCH_MOD,
        decontaminate_jaccard,
        decontaminate_ngram,
    )

    sf = "/root/testdata/sf0.001"
    d = _docs(spark, sf)
    bench = d.filter(f"doc_id % {_DECON_BENCH_MOD} = 0")
    train = d.filter(f"doc_id % {_DECON_BENCH_MOD} != 0")
    idx = str(tmp_path / "idx")
    stats = build_decon_index(spark, bench, idx)
    assert stats["n_bench_docs"] >= 1 and stats["n_grams5"] > 0

    batch = {
        r["doc_id"]: r for r in score_with_decon_index(spark, train, idx).collect()
    }
    assert len(batch) == train.count()  # every input doc gets a verdict
    # parity with the gate ops on their own split (shingle-bearing docs)
    ng = {r["doc_id"]: r for r in decontaminate_ngram(spark, sf).collect()}
    jc = {r["doc_id"]: r for r in decontaminate_jaccard(spark, sf).collect()}
    for i, r in ng.items():
        assert batch[i]["n_overlap5"] == r["n_overlap"]
        assert batch[i]["contaminated_exact"] == r["contaminated"]
    for i, r in jc.items():
        assert batch[i]["max_jaccard"] == r["max_jaccard"]
        assert batch[i]["contaminated_jaccard"] == r["contaminated"]

    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    train.select(*cols).filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
        str(in_dir / "f1")
    )
    train.select(*cols).filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
        str(in_dir / "f2")
    )
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    q = start_stream_decon(spark, str(in_dir) + "/f*", out, idx, ck)
    q.awaitTermination(120)
    streamed = {
        r["doc_id"]: tuple(r)[1:] for r in read_decon_verdicts(spark, out).drop("batch").collect()
    }
    assert streamed == {i: tuple(r)[1:] for i, r in batch.items()}

    # replay the last batch: identical rows, no dups
    commits = sorted(f for f in os.listdir(ck + "/commits") if not f.startswith("."))
    os.remove(ck + "/commits/" + commits[-1])
    crc = ck + "/commits/." + commits[-1] + ".crc"
    if os.path.exists(crc):
        os.remove(crc)
    q2 = start_stream_decon(spark, str(in_dir) + "/f*", out, idx, ck)
    q2.awaitTermination(120)
    replayed = {
        r["doc_id"]: tuple(r)[1:] for r in read_decon_verdicts(spark, out).drop("batch").collect()
    }
    assert replayed == streamed


def test_stream_lr_score_matches_batch(spark, tmp_path):
    """Streaming quality scoring with a persisted LR model: two embedding
    file drops score per micro-batch; the union of batch outputs equals
    batch score_with_lr_model over the same rows (per-row scores have no
    cross-row state), and a replayed batch rewrites its own partition
    with identical rows."""
    import os

    import pyspark.sql.functions as F

    from pdfparse_spark.pipeline.lr_model import (
        score_with_lr_model,
        start_stream_lr_score,
        train_lr_model,
    )

    sf = "/root/testdata/sf0.001"
    embs = spark.read.parquet(sf + "/embeddings.parquet")
    model = str(tmp_path / "model")
    train_lr_model(spark, embs, model, iters=8)

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    embs.filter(F.col("vec_id") % 2 == 0).coalesce(1).write.parquet(
        str(in_dir / "f1")
    )
    embs.filter(F.col("vec_id") % 2 == 1).coalesce(1).write.parquet(
        str(in_dir / "f2")
    )

    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    q = start_stream_lr_score(spark, str(in_dir) + "/f*", out, model, ck)
    q.awaitTermination(120)

    streamed = {
        r["vec_id"]: (r["quality_score"], r["keep"])
        for r in spark.read.parquet(out + "/batch=*").collect()
    }
    batch = {
        r["vec_id"]: (r["quality_score"], r["keep"])
        for r in score_with_lr_model(spark, embs, model).collect()
    }
    assert streamed == batch and len(streamed) == embs.count()

    # replay the last batch: identical rows, no dups, no changed verdicts
    commits = sorted(
        f for f in os.listdir(ck + "/commits") if not f.startswith(".")
    )
    os.remove(ck + "/commits/" + commits[-1])
    crc = ck + "/commits/." + commits[-1] + ".crc"
    if os.path.exists(crc):
        os.remove(crc)
    q2 = start_stream_lr_score(spark, str(in_dir) + "/f*", out, model, ck)
    q2.awaitTermination(120)
    replayed = {
        r["vec_id"]: (r["quality_score"], r["keep"])
        for r in spark.read.parquet(out + "/batch=*").collect()
    }
    assert replayed == streamed


def test_stream_conv_screen_matches_batch(spark, tmp_path):
    """Streaming conversation screening against a persisted chain index:
    two transcript file drops (whole conversations per file — the
    ingestion contract) screen per micro-batch; the union of batch
    outputs equals the batch probe row-for-row, and a replayed batch
    rewrites its own partition with identical rows."""
    import os

    import pyspark.sql.functions as F

    from pdfparse_spark.pipeline.conv_index import (
        build_conv_index,
        probe_conv_index,
        read_conv_verdicts,
        start_stream_conv_screen,
    )
    from pdfparse_spark.pipeline.transcripts import synthesize

    base, _ = synthesize(spark, n_convs=8, turns_per_conv=4, seed=21)
    base = base.localCheckpoint(eager=True)
    idx = str(tmp_path / "cidx")
    build_conv_index(spark, base, idx)

    # increment: 2 re-ingested copies, 1 retry prefix, 3 new sessions
    dup0 = base.filter("conv_id='conv000000'").withColumn("conv_id", F.lit("zz_d0"))
    dup1 = base.filter("conv_id='conv000001'").withColumn("conv_id", F.lit("zz_d1"))
    pre = base.filter("conv_id='conv000002' and turn_idx < 2").withColumn(
        "conv_id", F.lit("zz_pre")
    )
    fresh, _ = synthesize(spark, n_convs=3, turns_per_conv=4, seed=77)
    fresh = fresh.withColumn("conv_id", F.concat(F.lit("new_"), F.col("conv_id")))
    inc = dup0.unionByName(dup1).unionByName(pre).unionByName(fresh)

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    # whole conversations per file: split by conv_id, not by row
    inc.filter(F.col("conv_id").startswith("zz_")).coalesce(1).write.parquet(
        str(in_dir / "f1")
    )
    inc.filter(F.col("conv_id").startswith("new_")).coalesce(1).write.parquet(
        str(in_dir / "f2")
    )

    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    q = start_stream_conv_screen(spark, str(in_dir) + "/f*", out, idx, ck)
    q.awaitTermination(120)

    streamed = {
        r["conv_id"]: (r["n_turns"], r["in_index"], r["keep"])
        for r in read_conv_verdicts(spark, out).collect()
    }
    batch = {
        r["conv_id"]: (r["n_turns"], r["in_index"], r["keep"])
        for r in probe_conv_index(spark, inc, idx).collect()
    }
    assert streamed == batch
    assert {c for c, v in streamed.items() if not v[2]} == {"zz_d0", "zz_d1", "zz_pre"}

    # replay the last batch: identical rows, no dups, no changed verdicts
    commits = sorted(
        f for f in os.listdir(ck + "/commits") if not f.startswith(".")
    )
    os.remove(ck + "/commits/" + commits[-1])
    crc = ck + "/commits/." + commits[-1] + ".crc"
    if os.path.exists(crc):
        os.remove(crc)
    q2 = start_stream_conv_screen(spark, str(in_dir) + "/f*", out, idx, ck)
    q2.awaitTermination(120)
    replayed = {
        r["conv_id"]: (r["n_turns"], r["in_index"], r["keep"])
        for r in read_conv_verdicts(spark, out).collect()
    }
    assert replayed == streamed
