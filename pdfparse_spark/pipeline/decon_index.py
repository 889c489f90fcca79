"""Persisted decontamination index + streaming scorer — the
EXPLICIT-benchmark production face of ``decontaminate_ngram`` /
``decontaminate_jaccard`` (the ``dsir_model`` lifecycle discipline: build
the small artifact once from the eval suites, score any later frame or
stream against storage).

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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .artifact import (
    persisted,
    read_batches,
    read_stream,
    start_foreach_batch,
    write_batch,
)
from .dsir_model import DOC_INPUT_SCHEMA, _toks
from .textops import _DECON_JACC_TAU, _FIVEGRAMS, _SHINGLES

__all__ = [
    "build_decon_index",
    "score_with_decon_index",
    "start_stream_decon",
    "read_decon_verdicts",
]


def _with_arr(docs: DataFrame) -> DataFrame:
    # ONE tokenize definition — dsir_model._toks (the shared _TOKS_T
    # template), so the two scoring lifecycles cannot drift
    return _toks(docs, "text")


def build_decon_index(
    spark: SparkSession, bench_docs: DataFrame, index_dir: str
) -> dict:
    """Persist the benchmark corpus' probe tables.  ``bench_docs`` carries
    (doc_id, text); rebuilding for a new eval-suite release overwrites in
    place (the artifact is derived data — regenerate, don't migrate).

    Scale: one pass over the benchmark corpus (tiny), two doc-keyed
    explodes, one distinct; the persisted tables are what every later job
    broadcasts, so build cost is paid once per eval-suite release."""
    with persisted(_with_arr(bench_docs)) as arr:
        g5 = arr.select(F.explode(F.expr(_FIVEGRAMS)).alias("sh")).distinct()
        sh3 = arr.select(
            F.col("doc_id").alias("bench_id"), F.explode(F.expr(_SHINGLES)).alias("sh")
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
    tau: float = _DECON_JACC_TAU,
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
    d3 = arr.select("doc_id", F.explode(F.expr(_SHINGLES)).alias("sh"))
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
    spark: SparkSession, docs: DataFrame, index_dir: str, tau: float = _DECON_JACC_TAU
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
    return _score(_with_arr(docs), g5, sh3, sizes, tau=tau)


def start_stream_decon(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    tau: float = _DECON_JACC_TAU,
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
        with persisted(_with_arr(batch_df)) as arr:
            write_batch(_score(arr, g5, sh3, sizes, tau=tau), out_dir, batch_id)

    return start_foreach_batch(stream, _score_batch, checkpoint_dir, available_now)


def read_decon_verdicts(spark: SparkSession, out_dir: str) -> DataFrame:
    return read_batches(spark, out_dir)
