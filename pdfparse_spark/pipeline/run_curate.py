"""spark-submit entry point for corpus curation over a documents table.

The operational face of the ``corpus_curate`` gate query: run the
repetition-quality filter and near-dup cluster survivorship over a
documents parquet dir, assign the deterministic training order, and write
the curated corpus (WITH text) as parquet range-clustered on
``shuffle_rank`` — so a training loader reading chunk k's rank range
touches one file, the same zone-map argument as the extraction sink —
plus one JSON metrics line with the per-stage drop breakdown.

Local smoke:
    python -m pdfparse_spark.pipeline.run_curate \\
        --sf-dir /root/testdata/sf0.001 --out /tmp/curated

Cluster shape (spark-submit takes a script, not -m):
    zip -r pdfparse_spark.zip pdfparse_spark
    spark-submit --py-files pdfparse_spark.zip scripts/submit_curate.py \\
        --sf-dir <dir with documents.parquet> --out <dir> --pairs minhash

``--pairs exact`` (default) builds the near-dup graph from the exact
df-capped all-shingle join — oracle-grade, quadratic in candidate pairs;
``--pairs minhash`` uses MinHash-LSH band candidates (verified by exact
Jaccard on candidates only) — the 100 TB path.  Both feed ONE shared
connected-components fixpoint (the corpus_curate lesson: never run CC
twice).
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import functions as F

from .artifact import persistent_rdd_ids, release_rdds_since
from .corpus import read_docs, tokenized_docs
from .curate import curate_parts
from .decon_index import decon_keep_ids
from .docorder import docs_split_holdout, md5_shuffle_rank, quality_band_rank
from .dsir_model import dsir_keep_ids
from .session import get_spark
from .textdedup import dedup_minhash_clusters, strip_dup_spans
from .textquality import lm_keep_ids, quality_expr


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--sf-dir", required=True, help="dir holding documents.parquet")
    p.add_argument("--out", required=True, help="output dir for curated parquet")
    p.add_argument("--master", default=None)
    p.add_argument(
        "--pairs",
        choices=["exact", "minhash"],
        default="exact",
        help="near-dup pair source: exact shingle join (oracle-grade) or "
        "MinHash-LSH candidates (the 100 TB path)",
    )
    p.add_argument(
        "--lm-filter",
        action="store_true",
        help="also drop the worst LM-perplexity tercile — the operational "
        "face of corpus_curate_full's composition",
    )
    p.add_argument(
        "--dsir-filter",
        action="store_true",
        help="also drop docs whose DSIR importance weight is non-positive "
        "(raw-pool-leaning under the hashed n-gram LM ratio) — the "
        "operational face of docs_dsir_weights",
    )
    p.add_argument(
        "--decon-filter",
        action="store_true",
        help="also drop the held-out benchmark split itself plus every "
        "doc contaminated by it — verbatim 5-gram overlap "
        "(decontaminate_ngram) or near-dup shingle-Jaccard "
        "(decontaminate_jaccard) — the operational face of "
        "corpus_curate_decon's benchmark-hygiene family",
    )
    p.add_argument(
        "--strip-spans",
        action="store_true",
        help="emit the duplicated-span-STRIPPED token stream as the "
        "training payload (clean_text) instead of the raw text — the "
        "operational face of dedup_span_strip (Lee et al.): tokens "
        "covered by a cross-document duplicated n-gram are removed, "
        "coverage computed over the FULL corpus before any filter (with "
        "--holdout-dir: over the train split only — held-out docs never "
        "count toward a span's duplication)",
    )
    p.add_argument(
        "--holdout-dir",
        default=None,
        help="carve the exact stratified eval slice (docs_split_holdout: "
        "⌈frac·n⌉ lowest md5-draw docs per source) BEFORE any filtering "
        "— filtering first would bias the eval set toward the filters — "
        "write it here, and curate only the train split",
    )
    p.add_argument(
        "--order",
        choices=["shuffle", "curriculum"],
        default="shuffle",
        help="training-order policy for shuffle_rank: 'shuffle' (default) "
        "is the deterministic md5 global shuffle; 'curriculum' ranks the "
        "survivors by the text-quality composite ASCENDING (easy first — "
        "read backwards for anti-curriculum), the docs_curriculum_order "
        "policy restricted to the curated set",
    )
    p.add_argument("--num-files", type=int, default=16)
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    # only stop the session on exit if this run created it — get_spark
    # reuses an active session (e.g. pytest's), and stopping a borrowed
    # one kills the caller's context
    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark(master=args.master, app_name="pdfparse_curate")
    t0 = time.monotonic()
    # snapshot the persisted-RDD ids NOW: localCheckpoint blocks (the
    # shared tokenized frame and any checkpoints the gate ops create) are
    # RDD-level and Dataset.unpersist() cannot free them — at the end we
    # release the RDDs this run added, never a borrowed session's
    pre_persisted = persistent_rdd_ids(spark)

    d = read_docs(spark, args.sf_dir)
    n_in = d.count()

    n_held = 0
    val_ids = None
    if args.holdout_dir:
        split = docs_split_holdout(spark, args.sf_dir)
        val = split.filter(F.col("split") == "val").select(
            "doc_id", "holdout_rank"
        ).localCheckpoint(eager=True)
        n_held = val.count()
        (
            d.join(val, "doc_id")
            .select("doc_id", "holdout_rank", "lang", "source", "n_chars", "text")
            .write.mode("overwrite")
            .parquet(args.holdout_dir)
        )
        val_ids = val.select("doc_id")
        d = d.join(val_ids, "doc_id", "left_anti")

    # ONE shared tokenized checkpoint for every filter leg — including
    # the minhash pair source (the corpus_curate_full discipline:
    # tokenize once, not per leg)
    docs_tok = tokenized_docs(spark, args.sf_dir)
    if val_ids is not None:
        # every leg consumes docs_tok, so one anti-join restricts the
        # whole composed plan to the train split (the checkpoint itself
        # stays corpus-wide — the filter is a cheap join on top of it)
        docs_tok = docs_tok.join(val_ids, "doc_id", "left_anti")
    # the exact-pairs default is the gate query's own composition
    # (curate_parts IS corpus_curate); --pairs minhash swaps only the
    # near-dup pair source, so the CLI can never drift from the oracle
    clusters = (
        dedup_minhash_clusters(spark, args.sf_dir, docs=docs_tok).select(
            "doc_id", "cluster_id"
        )
        if args.pairs == "minhash"
        else None
    )
    passed, dropped_dup, ranked = curate_parts(
        spark, args.sf_dir, clusters=clusters, docs=docs_tok
    )
    # each leg is an expensive corpus-wide aggregation consumed 2-3×
    # below (metrics counts + the final write) — persist, not recompute
    passed = passed.persist()
    dropped_dup = dropped_dup.persist()

    n_quality_fail = n_in - n_held - passed.count()
    # count duplicate-drops among QUALITY-PASSERS so the stages sum:
    # docs_in = held_out + dropped_quality + dropped_near_dup
    #           + dropped_lm + dropped_dsir + docs_curated
    # (each optional leg counts drops among PRIOR-stage survivors; the
    # summation is pinned by the CLI pytests)
    n_dup_dropped = passed.join(dropped_dup, "doc_id", "inner").count()

    # optional composed filter legs, one (metric_key, keep-set builder)
    # per flag — the builders corpus_curate_full/_dsir/_decon compose, so
    # the CLI legs can never drift from the oracled ones
    legs = [
        (key, keep_ids)
        for on, key, keep_ids in (
            (args.lm_filter, "dropped_lm", lm_keep_ids),
            (args.dsir_filter, "dropped_dsir", dsir_keep_ids),
            (args.decon_filter, "dropped_decon", decon_keep_ids),
        )
        if on
    ]
    drops = {"dropped_lm": 0, "dropped_dsir": 0, "dropped_decon": 0}
    extra_ok = []
    if legs:
        survivors = passed.join(dropped_dup, "doc_id", "left_anti")
        for key, keep_ids in legs:
            ok = keep_ids(spark, args.sf_dir, docs=docs_tok).persist()
            extra_ok.append(ok)
            drops[key] = survivors.join(ok, "doc_id", "left_anti").count()
            survivors = survivors.join(ok, "doc_id")
        # the rank is reassigned over the final survivor set —
        # corpus_curate_full's composition with more legs
        ranked = md5_shuffle_rank(survivors, "n_tokens")

    if args.order == "curriculum":
        # quality-ascending curriculum over the SURVIVOR set: same banded
        # two-phase rank as docs_curriculum_order, quality recomputed from
        # the shared tokenized checkpoint (no extra corpus scan), emitted
        # under the same shuffle_rank loader contract
        surv = (
            survivors
            if legs
            else passed.join(dropped_dup, "doc_id", "left_anti")
        )
        scored = docs_tok.join(
            surv.select("doc_id"), "doc_id", "left_semi"
        ).select("doc_id", quality_expr().alias("q"))
        ranked = (
            quality_band_rank(scored, rank_name="shuffle_rank")
            .select("doc_id", "shuffle_rank")
            .join(surv.select("doc_id", "n_tokens"), "doc_id")
        )

    if args.strip_spans:
        # corpus-level duplicated-span coverage (the dedup_span_strip
        # body) over the SHARED tokenized checkpoint, applied to the
        # curated survivors: the cleaned alnum-token stream becomes the
        # training payload (clean_text) — lossy wrt punctuation/case by
        # design, it is exactly the stream dedup_span_strip sha-verifies.
        # Under --holdout-dir docs_tok is already anti-joined to the train
        # split, so coverage is train-split-only there.
        clean = strip_dup_spans(spark, args.sf_dir, docs_tok.select("doc_id", "arr"))
        out = (
            ranked.join(d.select("doc_id", "lang", "source", "n_chars"), "doc_id")
            .join(clean, "doc_id", "left")
            .select(
                "shuffle_rank",
                "doc_id",
                "n_tokens",
                "lang",
                "source",
                "n_chars",
                F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
                (
                    F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0))
                ).cast("long").alias("n_removed_tokens"),
            )
        )
    else:
        out = ranked.join(
            d.select("doc_id", "lang", "source", "n_chars", "text"), "doc_id"
        ).select(
            "shuffle_rank", "doc_id", "n_tokens", "lang", "source", "n_chars", "text"
        )
    (
        out.repartitionByRange(args.num_files, "shuffle_rank")
        .sortWithinPartitions("shuffle_rank")
        .write.mode("overwrite")
        .parquet(args.out)
    )
    written = spark.read.parquet(args.out)
    n_curated = written.count()
    tokens_removed = 0
    if args.strip_spans:
        tokens_removed = int(
            written.agg(F.sum("n_removed_tokens")).collect()[0][0] or 0
        )
    passed.unpersist()
    dropped_dup.unpersist()
    for ok in extra_ok:
        ok.unpersist()  # consumed lazily by the ranked write above
    # release the corpus-sized tokenized checkpoint and every other
    # localCheckpoint this run created (inside a borrowed long-lived
    # session each CLI run would otherwise leak one full (text, arr) copy
    # of the corpus until the session dies)
    release_rdds_since(spark, pre_persisted)
    wall = time.monotonic() - t0
    print(
        json.dumps(
            {
                "docs_in": n_in,
                "docs_curated": n_curated,
                "held_out": n_held,
                "dropped_quality": n_quality_fail,
                "dropped_near_dup": n_dup_dropped,
                "dropped_lm": drops["dropped_lm"],
                "dropped_dsir": drops["dropped_dsir"],
                "dropped_decon": drops["dropped_decon"],
                "tokens_removed": tokens_removed,
                "pairs": args.pairs,
                "order": args.order,
                "wall_sec": round(wall, 3),
            }
        )
    )
    if owns_session:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
