"""IVF+PQ approximate nearest neighbours: the gate op and its persisted
index — build once, search many.

Production ANN is not one query composing training + search (that is
``sim_ann_ivfpq``, the gate form) — it is an INDEX BUILD job that writes
the quantized representation to storage, and search jobs that read the
index without ever touching the corpus vectors except for the tiny
refine shortlist.  This module provides exactly that split:

- :func:`build_ivfpq_index` writes three parquet tables under ``out_dir``:
  ``vectors``   (vec_id, cell, probe_cells, codes) — 8 int codes/vector,
                the 32x-compressed searchable corpus;
  ``codebook``  (m, code, centroid) — the trained PQ sub-codebooks;
  ``coarse``    (cell, centroid, nrm) — the coarse quantizer, needed to
                encode NEW vectors into an existing index.
- :func:`search_ivfpq_index` reads the index, scores candidates by ADC
  from their stored codes (cell-keyed equality join — the corpus's full
  vectors are NOT resident), and refines the 10-deep shortlist with
  exact cosine fetched from the embeddings table.

The gate op and the index share ONE training (:func:`_train_quantizers`),
encoding (:func:`_encode_vectors`) and search (:func:`_adc_search`) body;
the pytest pins row-for-row equality between the two paths.  Scale:
encoding and ADC are literal-codebook HOF expressions, candidates meet in
one equality join on the cell id, and only queries x 10 full vectors are
ever fetched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .artifact import (
    delete_path,
    persisted,
    read_stream,
    start_foreach_batch,
    swap_table,
    write_rows,
)
from .corpus import DOT, EMB_DIM, emb_norm, norm_vectors
from .embed import N_PROBE_PQ, cell_top, trained_coarse

__all__ = [
    "sim_ann_ivfpq",
    "build_ivfpq_index",
    "compact_index_ingests",
    "encode_into_index",
    "search_ivfpq_index",
    "start_stream_index_append",
]


def _unit(e: DataFrame) -> DataFrame:
    """Unit-normalize a (vec_id, v, nrm) frame — the ONE normalization of
    the gate op, the build and every append.  PQ quantizes NORMALIZED
    vectors: on unit vectors L2² = 2 − 2·cos, so ADC ranking is monotone
    in cosine — without it the L2 codes rank by magnitude, not similarity
    (measured: recall@3 0.1 → 0.23).  All-zero embeddings have no
    direction: x/0 = NaN would poison k-means training, the cells and the
    persisted codes silently, so they are dropped (the streaming
    embed_neardup face makes the same call)."""
    return e.filter(F.col("nrm") > 0).select(
        "vec_id",
        F.transform(F.col("v"), lambda x: x / F.col("nrm")).alias("v"),
        F.lit(1.0).alias("nrm"),
    )


def _normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _unit(emb_norm(spark, sf_dir))


_PQ_M = 8  # subspaces (dim 64 → 8 dims each)
_PQ_K = 16  # codes per subspace → 8 codes/vector = 32x vs float32


def _pq_sub_d2s(book_col, seg_col):
    """Squared distances from a sub-vector to every sub-centroid of one
    book — THE single distance definition shared by PQ training and
    encoding (divergent copies would corrupt codes with no test seam).
    One-param inner lambda: a two-param lambda would make pyspark pass
    the transform INDEX as the second argument."""
    return F.transform(
        book_col,
        lambda c: F.aggregate(
            F.zip_with(seg_col, c, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )


def _pq_books_literal(books: list[list[list[float]]]):
    """The m_sub x k x sub codebook as ONE nested literal array (Catalyst
    constant-folds it) — shared rendering for training and search."""
    return F.array(
        *[
            F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in book])
            for book in books
        ]
    )


def _train_pq_codebooks(
    e: DataFrame, m_sub: int, k: int, sub: int, iters: int, seed_mod: int
) -> list[list[list[float]]]:
    """Lloyd's k-means for ALL ``m_sub`` product-quantizer subspaces in one
    shot: the (vec_id, v) frame explodes once into (m, sv) sub-vector rows
    (persisted), and each iteration is ONE aggregate job grouped by
    (m, code) — sub per-dim sum aggs + a count — instead of m_sub
    independent training chains.  Only m_sub x k x sub floats cross the
    driver per iteration.  Seeding matches train_kmeans_centroids (first
    k of the every-``seed_mod``-th vectors in vec_id order — no density
    assumption on the ids); a code that loses all members keeps its
    previous centroid."""
    parts = F.array(
        *[
            F.struct(
                F.lit(m).alias("m"),
                F.slice(F.col("v"), m * sub + 1, sub).alias("sv"),
            )
            for m in range(m_sub)
        ]
    )
    ex = (
        e.select("vec_id", F.explode(parts).alias("p"))
        .select("vec_id", F.col("p.m").alias("m"), F.col("p.sv").alias("sv"))
        .persist()
    )
    try:
        seed_ids = [
            r["vec_id"]
            for r in ex.filter((F.col("vec_id") % seed_mod == 0) & (F.col("m") == 0))
            .select("vec_id")
            .orderBy("vec_id")
            .limit(k)
            .collect()
        ]
        cid_of = {vid: i for i, vid in enumerate(seed_ids)}
        seed_rows = ex.filter(F.col("vec_id").isin(seed_ids)).collect()
        books: list[list[list[float]]] = [[None] * k for _ in range(m_sub)]
        for r in seed_rows:
            books[int(r["m"])][cid_of[r["vec_id"]]] = [float(x) for x in r["sv"]]
        # backstop for corpora with fewer than k qualifying seeds
        for m in range(m_sub):
            for cid in range(k):
                if books[m][cid] is None:
                    books[m][cid] = [0.0] * sub
        for _ in range(iters):
            cb = _pq_books_literal(books)
            d2s = _pq_sub_d2s(F.element_at(cb, F.col("m") + 1), F.col("sv"))
            code = F.array_position(d2s, F.array_min(d2s)).cast("int")
            upd = (
                ex.select("m", code.alias("code"), "sv")
                .groupBy("m", "code")
                .agg(
                    F.count("*").alias("n"),
                    *[
                        F.sum(F.element_at("sv", j + 1)).alias("s%d" % j)
                        for j in range(sub)
                    ],
                )
                .collect()
            )
            for r in upd:
                m, cid, n = int(r["m"]), int(r["code"]) - 1, int(r["n"])
                if n > 0:
                    books[m][cid] = [float(r["s%d" % j]) / n for j in range(sub)]
    finally:
        ex.unpersist()
    return books


def _train_quantizers(
    e: DataFrame,
) -> tuple[list[list[list[float]]], list[tuple[int, list[float], float]]]:
    """(PQ codebooks, coarse cells) trained on a NORMALIZED frame — ALL M
    subquantizers together (one exploded (m, subvec) frame, one aggregate
    job per Lloyd iteration for every subspace) plus TRAINED k-means
    coarse cells (the sim_ann_ivf_trained codebook path): trained cells
    raise the probe-restriction recall ceiling and balance the cell-keyed
    join (untrained first-k cells skew hot cells at scale)."""
    books = _train_pq_codebooks(e, _PQ_M, _PQ_K, EMB_DIM // _PQ_M, iters=2, seed_mod=13)
    return books, trained_coarse(e)


def _encode_vectors(
    e: DataFrame, books: list[list[list[float]]],
    coarse: list[tuple[int, list[float], float]],
    n_probe: int = N_PROBE_PQ,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Quantize a NORMALIZED (vec_id, v, nrm) frame against fixed PQ
    codebooks + coarse cells, producing the ``vectors`` table schema
    (vec_id, cell, probe_cells, codes) plus any ``carry`` columns of
    ``e`` after vec_id.  Per subspace, the code is the argmin squared
    distance over the literal book (the SAME _pq_sub_d2s distance the
    training loop uses); a vector lives in its top-1 cell and, as a
    query, probes its ``n_probe`` nearest.  Pure literal-codebook HOF
    projections — no shuffle, no training; shared by the gate op, the
    initial build and :func:`encode_into_index` (append without
    retraining)."""
    sub = EMB_DIM // _PQ_M
    cb = _pq_books_literal(books)
    code_cols = []
    for m in range(_PQ_M):
        d2s = _pq_sub_d2s(
            F.element_at(cb, m + 1), F.slice(F.col("v"), m * sub + 1, sub)
        )
        code_cols.append(F.array_position(d2s, F.array_min(d2s)).cast("int"))
    staged = cell_top(e, coarse, n_probe)
    return staged.select(
        "vec_id",
        *carry,
        F.element_at(F.col("top"), 1).getField("cid").alias("cell"),
        F.expr("transform(top, x -> x.cid)").alias("probe_cells"),
        F.array(*code_cols).alias("codes"),
    )


def _read_books(spark: SparkSession, index_dir: str) -> list[list[list[float]]]:
    book_rows = spark.read.parquet(index_dir + "/codebook").collect()
    books: list[list[list[float]]] = [[None] * _PQ_K for _ in range(_PQ_M)]
    for r in book_rows:
        books[int(r["m"])][int(r["code"])] = [float(x) for x in r["centroid"]]
    return books


def _read_coarse(
    spark: SparkSession, index_dir: str
) -> list[tuple[int, list[float], float]]:
    return [
        (int(r["cell"]), [float(x) for x in r["centroid"]], float(r["nrm"]))
        for r in spark.read.parquet(index_dir + "/coarse").collect()
    ]


def build_ivfpq_index(spark: SparkSession, sf_dir: str, out_dir: str) -> dict:
    """Train the PQ codebooks, encode every (normalized) vector, assign
    coarse cells, and persist the index tables.  Returns build stats."""
    with persisted(_normalized(spark, sf_dir)) as e:
        # the gate op's own training call, so the stored index
        # reproduces sim_ann_ivfpq
        books, coarse = _train_quantizers(e)
        vectors = _encode_vectors(e, books, coarse)
        # the vectors table is partitioned by an `ingest` label from day
        # one: the initial build owns ingest=base, every later append
        # (batch or streaming micro-batch) owns its own partition, so a
        # replayed streaming batch OVERWRITES ITSELF (dynamic partition
        # overwrite) instead of duplicating rows — the same
        # replay-stability scheme the extraction stream uses
        # partitionOverwriteMode pinned STATIC: a REBUILD must wipe every
        # stale ingest partition — codes written under the old codebooks
        # would otherwise survive and ADC-decode against the new ones
        # (silently wrong distances).  A dynamic session default would
        # overwrite ingest=base only.
        vectors.withColumn("ingest", F.lit("base")).write.mode(
            "overwrite"
        ).option("partitionOverwriteMode", "static").partitionBy(
            "ingest"
        ).parquet(out_dir + "/vectors")
        write_rows(
            spark,
            [(m, code, books[m][code]) for m in range(_PQ_M) for code in range(_PQ_K)],
            "m int, code int, centroid array<double>",
            out_dir + "/codebook",
        )
        write_rows(
            spark,
            [(cid, vec, nrm) for cid, vec, nrm in coarse],
            "cell int, centroid array<double>, nrm double",
            out_dir + "/coarse",
        )
        n = spark.read.parquet(out_dir + "/vectors").count()
    return {"n_vectors": n, "m": _PQ_M, "k": _PQ_K, "cells": len(coarse)}


def _encode_new_rows(
    new_rows: DataFrame,
    books: list[list[list[float]]],
    coarse: list[tuple[int, list[float], float]],
) -> DataFrame:
    """Normalize corpus-schema (vec_id, embedding) rows with the build's
    expression chain and quantize them against fixed codebooks/cells —
    the shared encode body of the batch append and the streaming face."""
    return _encode_vectors(_unit(norm_vectors(new_rows)), books, coarse)


def _write_ingest(encoded: DataFrame, index_dir: str, ingest: str) -> None:
    """Land encoded rows in the vectors table under their own ingest
    partition; re-running the SAME label overwrites that partition only
    (dynamic partition overwrite) — the replay-stability mechanism."""
    (
        encoded.withColumn("ingest", F.lit(ingest))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest")
        .parquet(index_dir + "/vectors")
    )


def _check_partitioned_layout(spark: SparkSession, index_dir: str) -> None:
    """Refuse to append into a pre-partitioning (flat) vectors layout:
    mixing ingest= subdirs with root-level files breaks partition
    discovery on the next read, with no hint the index needs a rebuild."""
    if "ingest" not in spark.read.parquet(index_dir + "/vectors").columns:
        raise ValueError(
            "index at %r uses the old flat vectors layout — rebuild it "
            "with build_ivfpq_index before appending" % index_dir
        )


def encode_into_index(
    spark: SparkSession,
    index_dir: str,
    new_rows: DataFrame,
    ingest: str,
) -> dict:
    """Append NEW vectors to an existing index WITHOUT retraining: the
    stored PQ codebooks and coarse cells quantize the new rows exactly as
    the build did, and the encoded rows land in the ``vectors`` table
    under their own ``ingest`` partition.  This is what makes the index
    production-real — ingest keeps flowing into a built index; only a
    quality-driven rebuild retrains.

    ``new_rows`` carries the corpus schema (vec_id, embedding) —
    embedding is the raw (un-normalized) vector, normalized here with the
    same expression chain as the build.  vec_ids must be new (not
    validated — an ANN index is not a uniqueness constraint; dup ids
    simply mean dup candidates).  ``ingest`` names this batch's
    partition and is REQUIRED: re-running the SAME label overwrites that
    partition only (dynamic partition overwrite) — which makes retries
    and the streaming face (:func:`start_stream_index_append`)
    replay-stable, and means two different appends MUST use two
    different labels or the second silently replaces the first.
    ``'base'`` (the initial build's partition) and ``batch-<n>`` (the
    streaming face's namespace) are reserved — accepting them would let
    one append silently replace the whole build or a stream batch.
    All-zero embeddings are dropped (no direction to index; indexing
    them would persist NaN cells/codes).  Returns append stats.

    Scale: the append is one shuffle-free projection job over the new
    rows only — the existing partitions are never touched, and the
    codebooks travel as literals.  (On a real lakehouse this is an
    Iceberg append snapshot — atomic, concurrent-reader-safe.)"""
    import re

    if ingest == "base" or re.fullmatch(r"batch-\d+", ingest):
        raise ValueError(
            "ingest label %r is reserved (initial build / streaming "
            "batches) — dynamic partition overwrite would silently "
            "replace that partition's rows" % ingest
        )
    _check_partitioned_layout(spark, index_dir)
    books = _read_books(spark, index_dir)
    coarse = _read_coarse(spark, index_dir)
    # persist: the write and the count would otherwise each run the full
    # codebook-literal encode job over new_rows
    with persisted(_encode_new_rows(new_rows, books, coarse)) as encoded:
        _write_ingest(encoded, index_dir, ingest)
        n = encoded.count()
    return {"n_appended": n, "m": _PQ_M, "k": _PQ_K, "cells": len(coarse)}


def start_stream_index_append(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    available_now: bool = True,
):
    """Stream embedding parquet drops INTO a built IVF+PQ index: each
    micro-batch is encoded with the STORED codebooks and coarse cells
    (no retraining — the :func:`encode_into_index` body) and lands in
    the vectors table under its own ``ingest=batch-<id>`` partition.
    Replay stability comes from the partition scheme, not from hope: a
    micro-batch re-run after a crash rewrites ITS OWN partition
    (dynamic partition overwrite) instead of appending duplicates, so
    the index converges to exactly-once contents under at-least-once
    execution — the streaming analogue of the extraction stream's
    per-batch output dirs.  The corpus the index points at is appended
    upstream by the same pipeline, so refine-time vector fetches see
    every indexed row (the encode_into_index contract).

    The codebooks/coarse cells are read ONCE at stream start (they are
    immutable for the index's lifetime) and closure-captured — the hot
    path per micro-batch is exactly one encode+write job."""
    # one schema definition for the embeddings stream (shared with the
    # embedding near-dup stream); lazy import avoids a pipeline->streaming
    # import at module load
    from ..streaming.embed_neardup import EMBED_INPUT_SCHEMA

    _check_partitioned_layout(spark, index_dir)
    books = _read_books(spark, index_dir)
    coarse = _read_coarse(spark, index_dir)
    stream = read_stream(spark, EMBED_INPUT_SCHEMA, input_dir, max_files_per_trigger)

    def _append(batch_df, batch_id: int) -> None:
        _write_ingest(
            _encode_new_rows(batch_df, books, coarse),
            index_dir,
            "batch-%d" % batch_id,
        )

    return start_foreach_batch(stream, _append, checkpoint_dir, available_now)


def compact_index_ingests(
    spark: SparkSession, index_dir: str, target_files: int = 8
) -> dict:
    """Fold every ingest partition of the vectors table into a single
    compacted ``ingest=base`` partition — the maintenance step a
    long-lived streaming index needs: :func:`start_stream_index_append`
    lands one partition per micro-batch, and after thousands of batches
    the table is thousands of tiny files whose open/seek overhead, not
    bytes, dominates every search scan.  Contents are unchanged
    (search results before == after); only the file layout shrinks.

    ``target_files`` bounds the rewritten partition's file count; at a
    real run size the knob is bytes-per-file, not a count — pair the
    coalesce with ``spark.sql.files.maxRecordsPerFile`` there.

    Crash safety: the compacted table is staged to a sibling tmp dir and
    swapped in by :func:`~.artifact.swap_table` (rename-then-delete
    through the index dir's Hadoop FS — a crash leaves the previous
    table under ``vectors.old``).  Writer fencing
    is the caller's job, same as :func:`compact_bloom_deltas` in
    bloom_index: compact ONLY when no stream lineage on this index can
    still replay — a batch replayed AFTER compaction would re-land its
    ``batch-<n>`` partition alongside the compacted rows and its vectors
    would rank as duplicate candidates.  (On a lakehouse this whole
    function is an Iceberg rewrite-data-files action — atomic, with
    snapshot isolation instead of renames.)"""
    _check_partitioned_layout(spark, index_dir)
    vectors = index_dir + "/vectors"
    v = spark.read.parquet(vectors)
    n_ingests = v.select("ingest").distinct().count()
    tmp = vectors + ".compact.tmp"
    delete_path(spark, tmp)
    (
        v.drop("ingest")
        .coalesce(max(1, target_files))
        .withColumn("ingest", F.lit("base"))
        .write.mode("overwrite")
        .partitionBy("ingest")
        .parquet(tmp)
    )
    n = spark.read.parquet(tmp).count()
    swap_table(spark, vectors, tmp)
    return {"n_vectors": n, "n_ingests_folded": n_ingests}


def search_ivfpq_index(
    spark: SparkSession, sf_dir: str, index_dir: str
) -> DataFrame:
    """ANN search against a stored index: candidates and their ADC scores
    come entirely from the index tables; full vectors are read from the
    embeddings table only for the query rows and the 10-deep refine
    shortlist.  Output schema and values match sim_ann_ivfpq row-for-row
    (pytest-pinned)."""
    return _adc_search(
        spark.read.parquet(index_dir + "/vectors"),
        _normalized(spark, sf_dir),
        _read_books(spark, index_dir),
    )


def _adc_search(
    vectors: DataFrame, vecs: DataFrame, books: list[list[list[float]]]
) -> DataFrame:
    """The IVFPQ search body of the gate op and the stored index:
    ``vectors`` holds (vec_id, cell, probe_cells, codes), ``vecs`` the
    NORMALIZED (vec_id, v) the query and refine legs read.  Queries
    (vec_id % 50 == 0) probe their cells; candidates are scored by ADC
    — the sum over subspaces of ||q_sub - book[m][code_m]||², the only
    per-candidate data being the tiny code array — and the 10-deep ADC
    shortlist is re-ranked by exact cosine (the standard IVFPQ
    refinement: full vectors are fetched for n_queries x 10 rows only,
    never for the corpus)."""
    sub = EMB_DIM // _PQ_M
    cb = _pq_books_literal(books)
    q = (
        vectors.filter(F.col("vec_id") % 50 == 0)
        .select("vec_id", F.explode("probe_cells").alias("cell"))
        .join(vecs.select("vec_id", F.col("v").alias("qv")), "vec_id")
        .withColumnRenamed("vec_id", "query_id")
    )
    n = vectors.select(
        F.col("vec_id").alias("neighbor_id"), "cell", "codes"
    )
    j = q.join(n, "cell").filter(F.col("neighbor_id") != F.col("query_id"))
    adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(_PQ_M - 1)),
        F.lit(0.0),
        lambda acc, m: acc
        + F.aggregate(
            F.zip_with(
                F.slice(F.col("qv"), m * sub + 1, sub),
                F.element_at(
                    F.element_at(cb, m + 1), F.element_at(F.col("codes"), m + 1)
                ),
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0.0),
            lambda x, y: x + y,
        ),
    )
    j = j.select("query_id", "qv", "neighbor_id", F.round(adc, 6).alias("adc_dist"))
    w = Window.partitionBy("query_id").orderBy(F.col("adc_dist"), F.col("neighbor_id"))
    shortlist = j.withColumn("adc_rank", F.row_number().over(w)).filter(
        F.col("adc_rank") <= 10
    )
    nv = vecs.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("nv"))
    r = shortlist.join(nv, "neighbor_id").withColumn(
        "cos_sim", F.round(F.expr(DOT), 4)  # unit vectors: dot == cosine
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        r.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= 3)
        .select("query_id", "neighbor_id", "rank", "cos_sim", "adc_dist")
    )


def sim_ann_ivfpq(
    spark: SparkSession, sf_dir: str, n_probe: int = N_PROBE_PQ
) -> DataFrame:
    """IVF + product quantization — the standard shape for ANN over
    100 TB of embeddings (FAISS IVFPQ): coarse cells bound the candidate
    set (inverted file, cell-keyed equality join) and candidates are
    scored from their 8-byte PQ codes via asymmetric distance (query in
    full precision, candidate reconstructed from per-subspace codebooks)
    — the corpus vectors themselves never need to be resident at search
    time (32x compression at these parameters).

    Training: Lloyd's k-means for ALL M subspaces in one exploded frame
    (_train_pq_codebooks — one (m, code)-grouped aggregate job per
    iteration; only M x k x 8 floats cross the driver; M serial chains
    measured 32.6 s vs 6.5 s warm end-to-end for identical codebooks).
    Encoding: one projection of M argmin HOFs over literal sub-codebooks
    (zero shuffle, no n x k join).  Search: ADC as a pure expression —
    the M x k x 8 codebook constant-folds into ONE literal, each
    candidate row carries only its code array — then the standard
    refinement re-ranks the 10-deep shortlist with exact cosine.  All
    three are the index's own bodies (_train_quantizers,
    _encode_vectors, _adc_search); only the codes' home differs — an
    in-memory checkpoint here, the persisted tables there.

    Rows-only (xxhash-free but iterative training + argmin encoding are
    not SQL-expressible at reasonable cost); pinned by pytest: recall@3
    >= 0.5 absolute and >= 0.75x the cell-restriction ceiling (exact
    in-cell search under THIS op's own trained cells and the same
    n_probe), and every returned pair's exact cosine agrees with brute
    force to 1e-4 (normalized-dot vs raw-dot/nrm differ by ulps).
    ``n_probe`` (gate default N_PROBE_PQ = 4 of 16 cells) is the
    recall/cost knob; size cells with recommended_ivf_cells at
    production corpus counts."""
    with persisted(_normalized(spark, sf_dir)) as e:
        books, coarse = _train_quantizers(e)
        # eager localCheckpoint (the dedup_clusters pattern): normalize →
        # encode → cell-argmin runs ONCE.  Both search legs otherwise
        # re-derive the whole chain, and the probe explode substitutes the
        # giant literal-codebook expressions into every consumer (the
        # Catalyst explode trap) — and Janino recompiles them per branch.
        # The normalized vectors ride along for the query and refine legs
        # (one source scan per run).
        staged = _encode_vectors(e, books, coarse, n_probe, carry=("v",))
        staged = staged.localCheckpoint(eager=True)
    return _adc_search(staged, staged, books)


# rows-only: iterative PQ training is not SQL-expressible; pinned by pytest
ORACLES: dict[str, str] = {}

QUERIES = {
    "sim_ann_ivfpq": sim_ann_ivfpq,
}
