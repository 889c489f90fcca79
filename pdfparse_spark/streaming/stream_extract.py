"""Structured-Streaming front-end for the extraction pipeline.

The batch pipeline's wave/ledger model (resume.py) is deliberately
foreachBatch-shaped, so streaming ingestion is a thin wrapper: a file-source
``readStream`` over transcript parquet drops, the SAME salted mapInPandas
extraction per micro-batch, idempotent append keyed by ``batch_id``, and
Spark's own streaming checkpoint for exactly-once source progress.

The reference has no streaming semantics (SURVEY.md §2.D note) — this module
adds ingestion capability without inventing new extraction semantics: each
micro-batch produces byte-identical output to the batch path on the same
rows (pinned by tests/test_streaming.py).

Scale notes: on a cluster this points at an autoloader-style landing dir (or
Iceberg table with streaming read); ``maxFilesPerTrigger`` bounds batch size
the way wave bucketing bounds it in batch mode.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pipeline.artifact import (
    checkpoint_scope,
    read_batches,
    read_stream,
    start_foreach_batch,
    write_batch,
)
from ..pipeline.extract import (
    OUTPUT_SCHEMA,
    DEDUP_KERNEL_SCHEMA,
    extract_batch_dedup,
    payload_key,
    run_extraction,
)
from ..pipeline.transcripts import INPUT_SCHEMA

__all__ = ["start_stream_extraction", "start_stream_extraction_dedup"]


def start_stream_extraction(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    num_partitions: int | None = None,
    salt: int = 64,
    max_files_per_trigger: int = 8,
    available_now: bool = True,
):
    """Start (and return) a streaming query extracting transcript drops.

    ``available_now=True`` drains everything currently in ``input_dir`` and
    stops — the batch-backfill trigger; pass False for a continuous tail.
    Output lands in ``out_dir/batch=<id>/`` (overwrite per batch id →
    idempotent under micro-batch replay after a crash, same contract as the
    batch waves).
    """
    stream = read_stream(spark, INPUT_SCHEMA, input_dir, max_files_per_trigger)

    def _process_batch(batch_df, batch_id: int) -> DataFrame:
        out = run_extraction(batch_df, num_partitions=num_partitions, salt=salt)
        return out.withColumn("batch_id", F.lit(batch_id))

    return start_foreach_batch(
        stream, _process_batch, checkpoint_dir, available_now, out_dir=out_dir
    )


def start_stream_extraction_dedup(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    cache_dir: str,
    checkpoint_dir: str,
    num_partitions: int | None = None,
    max_files_per_trigger: int = 8,
    available_now: bool = True,
):
    """Streaming content-addressed extraction: a persistent payload cache
    under ``cache_dir`` makes re-seen payloads free ACROSS micro-batches
    and across restarts — the kernel runs exactly once per distinct
    payload over the stream's whole lifetime (the extract-once invariant
    the batch ``run_extraction_dedup`` gives within one job).

    Per micro-batch:
      1. sha2-256 payload keys (NULL → ``'null'`` sentinel, as in batch);
      2. probe = cache batch dirs EXCLUDING this batch id — so a replayed
         batch recomputes exactly its original "new payloads" set and the
         ``overwrite`` of ``cache_dir/batch=<id>`` is byte-stable (probing
         ALL dirs would make a replay see its own prior write, extract
         nothing, and overwrite the dir with an EMPTY frame — erasing
         cached results other batches' outputs already joined against);
      3. the kernel runs over genuinely new payloads only; results append
         to the cache as ``batch=<id>`` (idempotent overwrite);
      4. every turn joins against the cache SEMI-JOINED down to the
         batch's own keys first — the join input stays proportional to
         the batch, not to every payload the stream has ever seen (the
         probe leg reads only the pruned ``payload_sha`` column) — and
         lands in ``out_dir/batch=<id>`` exactly as the plain path.

    State lives in storage, not executor memory: the cache is a plain
    (payload_sha → extraction) parquet table, unbounded-corpus safe (an
    Iceberg table fills the same role on a real cluster).  Batch dirs
    are scoped under ``ck=<sha of checkpoint_dir>``: batch ids only mean
    something within one checkpoint lineage, so two pipelines pointed at
    one cache_dir with different checkpoints would otherwise collide on
    ``batch=<id>`` and the overwrite would silently ERASE each other's
    cached extractions (turns would then left-join to NULL output rows).
    Scoping trades cross-job sharing for correctness; sharing needs a
    coordinated append-only store, not this overwrite protocol.
    """
    stream = read_stream(spark, INPUT_SCHEMA, input_dir, max_files_per_trigger)
    out_fields = [f.name for f in OUTPUT_SCHEMA.fields]
    cache_root = "%s/ck=%s" % (cache_dir, checkpoint_scope(checkpoint_dir))

    def _process_batch(batch_df, batch_id: int) -> DataFrame:
        keyed = batch_df.select(
            "conv_id", "turn_idx", "role", "tool", "ts", "text"
        ).withColumn("payload_sha", payload_key())
        uniq = keyed.select("payload_sha", "text").dropDuplicates(["payload_sha"])
        try:
            prior = read_batches(spark, cache_root).filter(
                F.col("batch") != batch_id  # replay-stable probe
            )
            new = uniq.join(prior.select("payload_sha"), "payload_sha", "left_anti")
        except AnalysisException:  # first batch: no cache dir yet
            new = uniq
        if num_partitions:
            new = new.repartition(num_partitions, F.col("payload_sha"))
        fresh = new.mapInPandas(extract_batch_dedup, schema=DEDUP_KERNEL_SCHEMA)
        write_batch(fresh, cache_root, batch_id)
        cache = (
            read_batches(spark, cache_root)
            .drop("batch")
            # batch-relevant rows only, THEN dedup: the shuffle stays
            # proportional to this batch, not to the lifetime cache
            .join(uniq.select("payload_sha"), "payload_sha", "left_semi")
            .dropDuplicates(["payload_sha"])
        )
        out = keyed.drop("text").join(cache, "payload_sha", "left").select(*out_fields)
        return out.withColumn("batch_id", F.lit(batch_id))

    return start_foreach_batch(
        stream, _process_batch, checkpoint_dir, available_now, out_dir=out_dir
    )
