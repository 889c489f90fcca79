"""SparkSession factory tuned for the extraction workload.

Design notes (SURVEY.md §4):
- Arrow on, batches capped LOW: PDF byte payloads are fat rows (up to MBs);
  ``maxRecordsPerBatch`` bounds Python-worker memory, not throughput.
- ``spark.python.worker.reuse`` keeps glyph tables / AFM dicts warm across
  batches (module-level state survives in the reused worker).
- AQE on for the relational shell (skew-join splitting, coalescing); the
  mapInArrow stage is skew-proofed separately by explicit salting
  (extract.py) because AQE cannot split a skewed Python stage.
- Worker reuse alone does not make a task cheap.  pyspark's worker runs
  ``setup_spark_files`` at the start of EVERY task, which calls
  ``importlib.invalidate_caches()``; on CPython 3.11 and 3.12 each
  ``zipimporter`` then re-reads its archive's whole central directory at
  once, and a worker holds ~16 of them over ``pyspark.zip`` (one per
  package directory, ~1.3k entries each).  Each re-read costs ~8 ms on a
  4-vCPU Xeon VM, so 0.13–0.40 s per task depending on host load.
  CPython 3.13 made the re-read lazy.  ``pyworker.install()``, called
  first thing in the extraction body, re-reads an archive only when its
  mtime or size changed, so a reused worker pays once.  It is not a
  session conf or a daemon module: ``--py-files`` deployments only put the
  package on the worker's path per task, inside that same
  ``setup_spark_files``.
- On a real cluster this module is unchanged; only ``master`` and
  ``--py-files`` packaging differ (see README).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _ensure_pythonpath() -> None:
    """Make the package importable in spawned Python workers (local mode).

    On a multi-executor cluster the equivalent is ``spark-submit --py-files
    pdfparse_spark.zip``; in local mode the worker processes inherit
    PYTHONPATH from the driver environment.
    """
    existing = os.environ.get("PYTHONPATH", "")
    parts = existing.split(os.pathsep) if existing else []
    if _REPO_ROOT not in parts:
        os.environ["PYTHONPATH"] = os.pathsep.join([_REPO_ROOT] + parts)


def get_spark(
    master: str | None = None,
    app_name: str = "pdfparse_spark",
    shuffle_partitions: int | None = None,
    arrow_batch: int = 512,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    _ensure_pythonpath()
    # a live session (pytest's fixture, a notebook) is BORROWED: going
    # through builder.getOrCreate() would silently apply this call's
    # runtime confs (shuffle partitions, arrow batch size) to the owner's
    # session — return it untouched and let the owner's tuning stand
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    if master is None:
        master = "local[%s]" % os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        # heuristic: ≥ 2× cores so AQE has room to coalesce; a real cluster
        # sets this to ~2-3× total executor cores (or relies on AQE).
        try:
            n = int(master.split("[")[1].rstrip("]*")) if "[" in master else 32
        except ValueError:
            n = 32
        shuffle_partitions = max(32, 2 * n)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let conv_id-bucketed tables satisfy joins keyed (conv_id, turn_idx):
        # co-partitioning on a key subset is sufficient for correctness, and
        # our conv_id buckets are skew-safe by construction (hash of a
        # high-cardinality id) — see pipeline/bucketed.py
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch))
        .config("spark.python.worker.reuse", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
