"""The artifact-and-stream core every persisted lifecycle and streaming
face shares, each protocol written once:

- **stream wiring** — :func:`read_stream` (file-source readStream with
  the face's own ``maxFilesPerTrigger``) and the two sinks:
  :func:`start_parquet_sink` (Spark's native append-mode parquet sink)
  and :func:`start_foreach_batch` (micro-batch function; with
  ``out_dir`` the batch's frame overwrites ``out_dir/batch=<id>``, so a
  replayed batch rewrites its own dir instead of duplicating rows).
  ``available_now=True`` drains the input and stops (the backfill
  trigger); False tails it.
- **stored-tag meta** — :func:`write_meta` / :func:`read_meta`: every
  scorer hashes with the STORED convention, and a tag mismatch is
  refused rather than silently mis-scoring every row.
- **tables on any Hadoop FS** — :func:`path_exists`,
  :func:`delete_path` and :func:`swap_table` go through the path's own
  ``FileSystem``, so ``file://``/``hdfs://`` URIs work like plain paths.
- **memory scopes** — :func:`persisted` releases exactly the handle it
  persisted; :func:`local_checkpoint` / :func:`release_rdds` release
  exactly the checkpoint RDD one call created (``Dataset.unpersist`` is a
  no-op for localCheckpoint blocks — they are RDD-level).
- **per-batch verdicts** — :func:`read_batches` reads every
  ``batch=<id>`` dir a foreachBatch face wrote.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupStateTimeout

__all__ = [
    "read_stream",
    "start_parquet_sink",
    "start_foreach_batch",
    "state_timeout",
    "checkpoint_scope",
    "batch_dir",
    "write_batch",
    "read_batches",
    "write_rows",
    "write_meta",
    "read_meta",
    "path_exists",
    "delete_path",
    "swap_table",
    "persisted",
    "local_checkpoint",
    "release_rdds",
    "persistent_rdd_ids",
    "release_rdds_since",
]


# -- stream wiring ---------------------------------------------------------


def read_stream(
    spark: SparkSession,
    schema,
    input_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """A file-source stream over parquet drops in ``input_dir``; ``None``
    leaves ``maxFilesPerTrigger`` unset (Spark's default: all new files)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def _start(writer, checkpoint_dir: str, available_now: bool):
    writer = writer.option("checkpointLocation", checkpoint_dir).outputMode("append")
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_parquet_sink(
    stream: DataFrame, out_dir: str, checkpoint_dir: str, available_now: bool
):
    """Start (and return) the query appending ``stream`` to ``out_dir``
    through Spark's exactly-once parquet file sink."""
    return _start(
        stream.writeStream.format("parquet").option("path", out_dir),
        checkpoint_dir,
        available_now,
    )


def start_foreach_batch(
    stream: DataFrame,
    batch_fn: Callable,
    checkpoint_dir: str,
    available_now: bool,
    out_dir: str | None = None,
):
    """Start (and return) the query running ``batch_fn(batch_df,
    batch_id)`` per micro-batch.  With ``out_dir``, ``batch_fn`` returns
    the batch's output frame and it overwrites ``out_dir/batch=<id>``;
    without, ``batch_fn`` does its own writes."""
    fn = batch_fn
    if out_dir is not None:

        def fn(batch_df, batch_id: int) -> None:
            write_batch(batch_fn(batch_df, batch_id), out_dir, batch_id)

    return _start(stream.writeStream.foreachBatch(fn), checkpoint_dir, available_now)


def state_timeout(state_ttl_minutes, available_now: bool):
    """``(ttl_ms, timeoutConf)`` for a stateful face's idle-state TTL:
    ``None`` (or 0) disables eviction; ``"auto"`` resolves to None for an
    availableNow backfill (pending timers would hold the finite query
    open past its last batch) and to 60 minutes for a long-lived stream."""
    if state_ttl_minutes == "auto":
        state_ttl_minutes = None if available_now else 60
    ttl_ms = 0 if state_ttl_minutes is None else state_ttl_minutes * 60_000
    if ttl_ms == 0:
        return 0, GroupStateTimeout.NoTimeout
    return ttl_ms, GroupStateTimeout.ProcessingTimeTimeout


def checkpoint_scope(checkpoint_dir: str) -> str:
    """A short stable tag for one checkpoint lineage: batch ids only mean
    something within one lineage, so state written per batch id is
    scoped ``ck=<tag>`` to keep two lineages from overwriting each
    other's ``batch=<id>`` dirs."""
    return hashlib.sha256(checkpoint_dir.encode()).hexdigest()[:12]


def batch_dir(root: str, batch_id: int) -> str:
    return "%s/batch=%d" % (root, batch_id)


def write_batch(df: DataFrame, root: str, batch_id: int) -> None:
    """Overwrite ``root/batch=<id>`` — idempotent under micro-batch replay."""
    df.write.mode("overwrite").parquet(batch_dir(root, batch_id))


def read_batches(spark: SparkSession, root: str) -> DataFrame:
    """Every ``root/batch=<id>`` dir as one frame (``batch`` column
    included)."""
    return spark.read.option("basePath", root).parquet(root + "/batch=*")


# -- stored tables and tag-checked meta ---------------------------------------


def write_rows(spark: SparkSession, rows: list, schema: str, path: str) -> None:
    """Overwrite ``path`` with a small in-memory row list as one file."""
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(
        path
    )


def write_meta(spark: SparkSession, artifact_dir: str, row: tuple, schema: str) -> None:
    """Write the artifact's one-row ``meta`` table."""
    write_rows(spark, [row], schema, artifact_dir + "/meta")


def read_meta(
    spark: SparkSession,
    artifact_dir: str,
    expect_tag: str | None = None,
    mismatch: str = "artifact at %r was built under tag %r; this build expects %r",
):
    """The artifact's meta row.  With ``expect_tag``, a stored
    ``feat_tag`` that differs raises ``ValueError(mismatch % (dir,
    stored, expected))`` — applying an artifact built under another
    convention would be silently wrong."""
    meta = spark.read.parquet(artifact_dir + "/meta").collect()[0]
    if expect_tag is not None and meta["feat_tag"] != expect_tag:
        raise ValueError(mismatch % (artifact_dir, meta["feat_tag"], expect_tag))
    return meta


def _fs(spark: SparkSession, path: str):
    sc = spark.sparkContext
    hpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(sc._jsc.hadoopConfiguration()), hpath


def path_exists(spark: SparkSession, path: str) -> bool:
    fs, hpath = _fs(spark, path)
    return bool(fs.exists(hpath))


def delete_path(spark: SparkSession, path: str) -> None:
    """Recursively delete ``path``; a missing path is not an error."""
    fs, hpath = _fs(spark, path)
    fs.delete(hpath, True)


def _rename(spark: SparkSession, src: str, dst: str) -> None:
    fs, hsrc = _fs(spark, src)
    if not fs.rename(hsrc, _fs(spark, dst)[1]):
        raise OSError("rename %r -> %r failed" % (src, dst))


def swap_table(spark: SparkSession, live: str, staged: str) -> None:
    """Replace table dir ``live`` with the fully written ``staged`` dir,
    rename-then-delete: a crash between the two renames leaves the old
    table intact under ``<live>.old`` (manual recovery: rename it back;
    reads of ``live`` fail loudly until then), never a window where the
    data is gone.  Writer fencing is the caller's job."""
    old = live + ".old"
    delete_path(spark, old)
    _rename(spark, live, old)
    _rename(spark, staged, live)
    delete_path(spark, old)


# -- memory scopes ------------------------------------------------------------


@contextmanager
def persisted(df: DataFrame) -> Iterator[DataFrame]:
    """``df.persist()`` for the ``with`` body, then unpersist exactly that
    handle — never a sweep that could free a concurrent job's blocks."""
    df = df.persist()
    try:
        yield df
    finally:
        df.unpersist()


def local_checkpoint(df: DataFrame) -> tuple[DataFrame, frozenset[int]]:
    """Eager ``localCheckpoint`` (truncates lineage) plus the id of the RDD
    holding its blocks — read off the checkpointed plan itself, so RDDs a
    concurrent job persists meanwhile are never in the set.  Free the
    blocks with :func:`release_rdds`."""
    ch = df.localCheckpoint(eager=True)
    return ch, frozenset([ch._jdf.queryExecution().logical().rdd().id()])


def persistent_rdd_ids(spark: SparkSession) -> frozenset[int]:
    return frozenset(spark.sparkContext._jsc.getPersistentRDDs().keys())


def release_rdds(spark: SparkSession, ids: Iterable[int]) -> None:
    """Unpersist exactly the RDDs in ``ids`` that are still persisted."""
    live = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in ids:
        if rid in live:
            live[rid].unpersist(False)


def release_rdds_since(spark: SparkSession, pre: frozenset[int]) -> None:
    """Release every RDD persisted since the :func:`persistent_rdd_ids`
    snapshot ``pre``.  Still a sweep, by necessity: the family gate ops
    create localCheckpoints internally and return no handle to them, so
    a whole-run caller (``run_curate``) can only find its blocks by id
    diff.  In a shared session this also frees blocks a concurrent job
    persisted in the window — use :func:`local_checkpoint` /
    :func:`persisted` wherever the handle is in reach."""
    release_rdds(spark, persistent_rdd_ids(spark) - pre)
