"""Benchmark decontamination: the gate ops ``decontaminate_ngram`` /
``decontaminate_jaccard``, and their persisted index + streaming scorer —
the EXPLICIT-benchmark production face (the ``dsir_model`` lifecycle
discipline: build the small artifact once from the eval suites, score any
later frame or stream against storage).

The gate ops split ONE corpus deterministically (doc_id % 97) so DuckDB
can verify them; a real pipeline instead holds a fixed benchmark corpus
(eval suites — tiny by construction) and must screen every new crawl
against it.  The index stores exactly what the two probes need:

- ``grams5``  — the benchmark's DISTINCT 5-gram shingles (verbatim leg),
- ``sh3``     — per-benchmark-doc distinct 3-word shingles (Jaccard leg),
- ``sizes``   — per-benchmark-doc 3-shingle counts.

All three are benchmark-sized, so every probe is a BROADCAST equality
join: the incoming side never shuffles by shingle, which also removes the
hot-shingle skew surface the corpus-split gate ops defuse with the df cap
(a broadcast join has no by-key reducer to overload; the cap is therefore
deliberately absent here — scoring agrees with the gate ops whenever no
shingle exceeds the cap, pinned by pytest).

Scoring is per-row-local given the static index (a doc's verdict depends
only on its own shingles), so the streaming face needs NO cross-batch
state: a replayed micro-batch overwrites its own ``batch=<id>`` dir with
identical rows — replay-stable without any probe/exclusion protocol.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .artifact import (
    persisted,
    read_batches,
    read_stream,
    start_foreach_batch,
    write_batch,
)
from .corpus import SHINGLES, SQL_SHINGLES, SQL_TOKS, tokenize, tokenized_arr
from .dsir_model import DOC_INPUT_SCHEMA
from .textdedup import _MAX_SHINGLE_DF, _shingle_rows

__all__ = [
    "decontaminate_ngram",
    "decontaminate_jaccard",
    "decon_keep_ids",
    "build_decon_index",
    "score_with_decon_index",
    "start_stream_decon",
    "read_decon_verdicts",
]


DECON_BENCH_MOD = 97  # doc_id % 97 == 0 plays the held-out benchmark set

# distinct 5-gram shingles over the token array — the decontamination
# grain (verbatim-overlap detection), shared by the gate op and the index
_FIVEGRAMS = (
    "CASE WHEN size(arr) >= 5 THEN "
    "array_distinct(transform(sequence(1, size(arr) - 4), "
    "i -> concat_ws(' ', element_at(arr, i), element_at(arr, i + 1), "
    "element_at(arr, i + 2), element_at(arr, i + 3), element_at(arr, i + 4)))) "
    "ELSE array() END"
)


def decontaminate_ngram(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any 5-gram
    with a (deterministic) held-out benchmark subset of the corpus.

    Scale: benchmark shingles are the small side — broadcast to a semi-ish
    join keyed by the shingle string; the training side streams through
    with one (doc_id)-keyed aggregate.  At a real 100 TB run the benchmark
    set (eval suites) is tiny by construction, so broadcast always fits.
    ``docs`` optionally supplies the shared pre-tokenized (doc_id, arr)
    checkpoint so composing pipelines tokenize once.
    """
    if docs is None:
        # tokenize ONCE for the bench/train/totals consumers
        docs = tokenized_arr(spark, sf_dir)
    sh = docs.select("doc_id", F.explode(F.expr(_FIVEGRAMS)).alias("sh"))
    bench = (
        sh.filter(F.col("doc_id") % DECON_BENCH_MOD == 0)
        .select("sh")
        .distinct()
    )
    train = sh.filter(F.col("doc_id") % DECON_BENCH_MOD != 0)
    hits = (
        train.join(F.broadcast(bench), "sh", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
    )
    totals = train.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    return (
        totals.join(hits, "doc_id", "left")
        .fillna(0, ["n_overlap"])
        .select(
            "doc_id",
            "n_shingles",
            "n_overlap",
            F.round(F.col("n_overlap") / F.greatest(F.col("n_shingles"), F.lit(1)), 4).alias(
                "contam_frac"
            ),
            (F.col("n_overlap") > 0).cast("int").alias("contaminated"),
        )
    )


# Near-dup decontamination threshold: the corpus-wide near-dup bar (0.5
# Jaccard, the _exact_jaccard_pairs cut) applied against the benchmark
# split — a training doc this close to an eval item is a paraphrase-level
# leak even when no verbatim 5-gram survives decontaminate_ngram's test.
DECON_JACC_TAU = 0.5


def decontaminate_jaccard(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """Near-duplicate benchmark decontamination: score every training doc
    by its best word-shingle Jaccard similarity against the (deterministic)
    held-out benchmark subset, and flag docs at or above the near-dup bar.
    Complements decontaminate_ngram (exact 5-gram overlap — verbatim leaks)
    with the fuzzy case: a lightly edited copy of an eval item shares few
    verbatim 5-gram runs but keeps most of its 3-shingle set.

    Scale: shingles are df-capped (``_MAX_SHINGLE_DF``, the corpus-wide
    near-dedup discipline) BEFORE the split so one boilerplate shingle
    can't blow up the probe join; the benchmark side — eval suites, tiny
    by construction at a real run — is broadcast, so the training side
    streams through one equality join keyed by the shingle string plus a
    (doc_id, bench_id)-keyed aggregate.  Candidate fan-out per training
    doc is bounded by its shingle count × the df cap.  No UDFs.
    ``docs`` optionally supplies the shared pre-tokenized (doc_id, arr)
    checkpoint so composing pipelines tokenize once.
    """
    if docs is None:
        # tokenize ONCE for the sizes/bench/train consumers
        docs = tokenized_arr(spark, sf_dir)
    sh = _shingle_rows(spark, sf_dir, max_df=_MAX_SHINGLE_DF, docs=docs)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    bench = sh.filter(F.col("doc_id") % DECON_BENCH_MOD == 0).select(
        F.col("doc_id").alias("bench_id"), "sh"
    )
    bench_sizes = sizes.filter(F.col("doc_id") % DECON_BENCH_MOD == 0).select(
        F.col("doc_id").alias("bench_id"), F.col("n_sh").alias("nb")
    )
    train = sh.filter(F.col("doc_id") % DECON_BENCH_MOD != 0)
    inter = (
        train.join(F.broadcast(bench), "sh")
        .groupBy("doc_id", "bench_id")
        .agg(F.count("*").alias("n_inter"))
    )
    # unrounded IEEE double for the argmax ordering (bench_id breaks exact
    # ties deterministically); the reported score rounds to 4
    jac = (
        inter.join(sizes, "doc_id")
        .join(F.broadcast(bench_sizes), "bench_id")
        .withColumn(
            "jacc", F.col("n_inter") / (F.col("n_sh") + F.col("nb") - F.col("n_inter"))
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("jacc"), F.asc("bench_id"))
    best = (
        jac.withColumn("n_candidates", F.count("*").over(Window.partitionBy("doc_id")))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "n_candidates", F.col("bench_id").alias("best_match"), "jacc")
    )
    return (
        sizes.filter(F.col("doc_id") % DECON_BENCH_MOD != 0)
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            "n_sh",
            F.coalesce(F.col("n_candidates"), F.lit(0).cast("long")).alias("n_candidates"),
            F.coalesce(F.col("best_match"), F.lit(-1).cast("long")).alias("best_match"),
            F.round(F.coalesce(F.col("jacc"), F.lit(0.0)), 4).alias("max_jaccard"),
            (F.coalesce(F.col("jacc"), F.lit(0.0)) >= DECON_JACC_TAU)
            .cast("int")
            .alias("contaminated"),
        )
    )


def decon_keep_ids(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """(doc_id) of every training-split doc flagged by NEITHER decon op —
    the benchmark-hygiene leg of the curation composition
    (corpus_curate_decon, run_curate ``--decon-filter``).  The held-out
    split itself never survives; docs too short to shingle are absent
    from the ops' outputs and must survive, so the keep set is built by
    anti-joining the two BAD sets."""
    if docs is None:
        docs = tokenized_arr(spark, sf_dir)
    keep = docs.select("doc_id").filter(F.col("doc_id") % DECON_BENCH_MOD != 0)
    for op in (decontaminate_ngram, decontaminate_jaccard):
        bad = op(spark, sf_dir, docs=docs).filter(F.col("contaminated") == 1)
        keep = keep.join(bad.select("doc_id"), "doc_id", "left_anti")
    return keep


def build_decon_index(
    spark: SparkSession, bench_docs: DataFrame, index_dir: str
) -> dict:
    """Persist the benchmark corpus' probe tables.  ``bench_docs`` carries
    (doc_id, text); rebuilding for a new eval-suite release overwrites in
    place (the artifact is derived data — regenerate, don't migrate).

    Scale: one pass over the benchmark corpus (tiny), two doc-keyed
    explodes, one distinct; the persisted tables are what every later job
    broadcasts, so build cost is paid once per eval-suite release."""
    with persisted(tokenize(bench_docs)) as arr:
        g5 = arr.select(F.explode(F.expr(_FIVEGRAMS)).alias("sh")).distinct()
        sh3 = arr.select(
            F.col("doc_id").alias("bench_id"), F.explode(F.expr(SHINGLES)).alias("sh")
        )
        g5.write.mode("overwrite").parquet(index_dir + "/grams5")
        sh3.write.mode("overwrite").parquet(index_dir + "/sh3")
    sizes = (
        spark.read.parquet(index_dir + "/sh3")
        .groupBy("bench_id")
        .agg(F.count("*").alias("nb"))
    )
    sizes.write.mode("overwrite").parquet(index_dir + "/sizes")
    return {
        "n_bench_docs": sizes.count(),
        "n_grams5": spark.read.parquet(index_dir + "/grams5").count(),
    }


def _score(
    arr: DataFrame,
    g5: DataFrame,
    sh3: DataFrame,
    sizes: DataFrame,
    tau: float = DECON_JACC_TAU,
) -> DataFrame:
    """One verdict row per input doc — the shared scoring body (batch face
    and every stream micro-batch run exactly this).  ``arr`` is the
    tokenized (doc_id, arr) frame; persistence is the CALLER's choice
    (the stream face persists each micro-batch's frame and releases it
    precisely after the write; the batch face, like its sibling
    score_with_dsir_model, persists nothing — the caller composing many
    scoring jobs can pass an already-persisted frame)."""
    base = arr.select("doc_id")
    # verbatim leg: any shared 5-gram
    d5 = arr.select("doc_id", F.explode(F.expr(_FIVEGRAMS)).alias("sh"))
    hits5 = (
        d5.join(F.broadcast(g5), "sh", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap5"))
    )
    # near-dup leg: best Jaccard against any benchmark doc
    d3 = arr.select("doc_id", F.explode(F.expr(SHINGLES)).alias("sh"))
    na = d3.groupBy("doc_id").agg(F.count("*").alias("na"))
    inter = (
        d3.join(F.broadcast(sh3), "sh")
        .groupBy("doc_id", "bench_id")
        .agg(F.count("*").alias("n_inter"))
    )
    best = (
        inter.join(na, "doc_id")
        .join(F.broadcast(sizes), "bench_id")
        .withColumn(
            "jacc", F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter"))
        )
        .groupBy("doc_id")
        .agg(F.max("jacc").alias("max_jacc"))
    )
    ce = (F.coalesce(F.col("n_overlap5"), F.lit(0)) > 0).cast("int")
    cj = (F.coalesce(F.col("max_jacc"), F.lit(0.0)) >= tau).cast("int")
    return (
        base.join(hits5, "doc_id", "left")
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_overlap5"), F.lit(0).cast("long")).alias("n_overlap5"),
            F.round(F.coalesce(F.col("max_jacc"), F.lit(0.0)), 4).alias("max_jaccard"),
            ce.alias("contaminated_exact"),
            cj.alias("contaminated_jaccard"),
            F.greatest(ce, cj).alias("contaminated"),
        )
    )


def _read_index(spark: SparkSession, index_dir: str, persist: bool = False):
    # the stream face persists (not localCheckpoints): the benchmark-sized
    # tables pin in the block cache across a stream's batches but stay
    # EVICTABLE and carry their parquet lineage, so memory pressure or
    # loss just re-reads — no unreleasable checkpoint blocks accumulate in
    # a borrowed session.  The batch face reads them plain: it returns a
    # lazy frame, so it could never release a persist it made.
    tables = [
        spark.read.parquet(index_dir + "/" + name) for name in ("grams5", "sh3", "sizes")
    ]
    return [t.persist() for t in tables] if persist else tables


def score_with_decon_index(
    spark: SparkSession, docs: DataFrame, index_dir: str, tau: float = DECON_JACC_TAU
) -> DataFrame:
    """Screen (doc_id, text) rows against a stored benchmark index: one
    verdict row PER INPUT DOC (docs too short to shingle verdict clean —
    unlike the gate ops, whose output base is shingle-bearing docs only).

    Scale: both probes are broadcast equality joins against the
    benchmark-sized tables plus doc-keyed aggregates — the incoming
    corpus streams through with no by-shingle shuffle at all.  Nothing
    is persisted here (the score_with_dsir_model discipline — no
    unreleasable blocks in a borrowed session); pre-persist ``docs``'s
    tokenized form yourself if composing many scoring jobs over it."""
    g5, sh3, sizes = _read_index(spark, index_dir)
    return _score(tokenize(docs), g5, sh3, sizes, tau=tau)


def start_stream_decon(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    tau: float = DECON_JACC_TAU,
    max_files_per_trigger: int = 1,
    available_now: bool = True,
):
    """Screen a document stream against the stored benchmark index.  The
    index is read ONCE at stream start (an index is immutable for its
    lifetime — a new eval-suite release rebuilds it) and closure-captured;
    per-batch work is the one shared scoring job.  Verdicts are
    row-local given the static index, so a replayed batch overwrites its
    own ``batch=<id>`` dir with identical rows (replay-stable with no
    cross-batch state — the ``start_stream_dsir_score`` discipline)."""
    g5, sh3, sizes = _read_index(spark, index_dir, persist=True)
    stream = read_stream(spark, DOC_INPUT_SCHEMA, input_dir, max_files_per_trigger)

    def _score_batch(batch_df, batch_id: int) -> None:
        # persist THIS batch's tokenized frame (both legs consume it) and
        # release exactly it after the write, so a long-lived stream
        # accumulates nothing batch over batch
        with persisted(tokenize(batch_df)) as arr:
            write_batch(_score(arr, g5, sh3, sizes, tau=tau), out_dir, batch_id)

    return start_foreach_batch(stream, _score_batch, checkpoint_dir, available_now)


def read_decon_verdicts(spark: SparkSession, out_dir: str) -> DataFrame:
    return read_batches(spark, out_dir)


ORACLES: dict[str, str] = {
    "decontaminate_ngram": f"""
        WITH toks AS (
            SELECT doc_id, {SQL_TOKS} AS arr FROM documents
        ), sh AS (
            SELECT doc_id, unnest(list_distinct(list_transform(range(1, greatest(len(arr) - 3, 1)),
                   i -> arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] || ' ' || arr[i+3] || ' ' || arr[i+4]))) AS sh
            FROM toks WHERE len(arr) >= 5
        ), bench AS (
            SELECT DISTINCT sh FROM sh WHERE doc_id % {DECON_BENCH_MOD} = 0
        ), train AS (
            SELECT * FROM sh WHERE doc_id % {DECON_BENCH_MOD} <> 0
        ), hits AS (
            SELECT doc_id, count(*) AS n_overlap FROM train
            WHERE sh IN (SELECT sh FROM bench) GROUP BY doc_id
        ), totals AS (
            SELECT doc_id, count(*) AS n_shingles FROM train GROUP BY doc_id
        )
        SELECT t.doc_id, t.n_shingles, coalesce(h.n_overlap, 0) AS n_overlap,
               round(coalesce(h.n_overlap, 0) * 1.0 / greatest(t.n_shingles, 1), 4) AS contam_frac,
               CAST(coalesce(h.n_overlap, 0) > 0 AS INT) AS contaminated
        FROM totals t LEFT JOIN hits h USING (doc_id)
    """,
    "decontaminate_jaccard": f"""
        WITH toks AS (
            SELECT doc_id, {SQL_TOKS} AS arr FROM documents
        ), sh0 AS (
            SELECT doc_id, unnest({SQL_SHINGLES}) AS sh FROM toks
        ), sh AS (
            -- same corpus-wide document-frequency cap as the Spark side
            SELECT doc_id, sh FROM sh0
            QUALIFY count(*) OVER (PARTITION BY sh) <= {_MAX_SHINGLE_DF}
        ), sizes AS (
            SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
        ), inter AS (
            SELECT t.doc_id, b.doc_id AS bench_id, count(*) AS n_inter
            FROM sh t JOIN sh b USING (sh)
            WHERE t.doc_id % {DECON_BENCH_MOD} <> 0
              AND b.doc_id % {DECON_BENCH_MOD} = 0
            GROUP BY t.doc_id, b.doc_id
        ), jac AS (
            SELECT i.doc_id, i.bench_id,
                   i.n_inter * 1.0 / (sa.n_sh + sb.n_sh - i.n_inter) AS jacc
            FROM inter i
            JOIN sizes sa ON sa.doc_id = i.doc_id
            JOIN sizes sb ON sb.doc_id = i.bench_id
        ), best AS (
            SELECT doc_id, bench_id, jacc,
                   count(*) OVER (PARTITION BY doc_id) AS n_candidates,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY jacc DESC, bench_id) AS rn
            FROM jac
        )
        SELECT s.doc_id, s.n_sh,
               coalesce(b.n_candidates, 0) AS n_candidates,
               coalesce(b.bench_id, -1) AS best_match,
               round(coalesce(b.jacc, 0.0), 4) AS max_jaccard,
               CAST(coalesce(b.jacc, 0.0) >= {DECON_JACC_TAU} AS INT) AS contaminated
        FROM sizes s LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)
        WHERE s.doc_id % {DECON_BENCH_MOD} <> 0
    """,
}

QUERIES = {
    "decontaminate_ngram": decontaminate_ngram,
    "decontaminate_jaccard": decontaminate_jaccard,
}
