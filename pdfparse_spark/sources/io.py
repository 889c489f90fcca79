"""Source/sink layer (SURVEY.md §2 P0): Iceberg-first with parquet fallback.

The production deployment target is Iceberg tables (BASELINE.json
north_rule); this container ships no Iceberg runtime jars, so capability is
probed once and the same API transparently uses parquet.  On a real cluster
add:

    --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver>
    --conf spark.sql.catalog.lake=org.apache.iceberg.spark.SparkCatalog
    --conf spark.sql.catalog.lake.type=hadoop
    --conf spark.sql.catalog.lake.warehouse=<warehouse-uri>

and pass ``table="lake.db.transcripts"`` — everything else is unchanged.
Iceberg specifics the pipeline relies on when available: hidden
partitioning (bucket(conv_id)), snapshot-isolated idempotent appends for
the wave writes, and partition pruning on the resume anti-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..pipeline.transcripts import INPUT_SCHEMA

__all__ = [
    "iceberg_available",
    "load_transcripts",
    "write_output",
    "write_range_clustered",
]

_ICEBERG = None


def iceberg_available(spark: SparkSession) -> bool:
    """True when an Iceberg SparkCatalog is on the classpath."""
    global _ICEBERG
    if _ICEBERG is None:
        try:
            spark.sparkContext._jvm.java.lang.Class.forName(
                "org.apache.iceberg.spark.SparkCatalog"
            )
            _ICEBERG = True
        except Exception:
            _ICEBERG = False
    return _ICEBERG


def load_transcripts(
    spark: SparkSession,
    path: str,
    fmt: str = "auto",
) -> DataFrame:
    """Read a transcripts table (input_hint schema) from Iceberg, parquet,
    ORC, json or csv.  ``fmt="auto"``: Iceberg for catalog table names (no
    '/'), else by file extension, defaulting to parquet.

    Every file format is read with ``INPUT_SCHEMA`` declared, so loading
    starts no Spark job (no schema inference) and the columns come out in
    ``INPUT_SCHEMA`` order, whatever their order in the files; columns
    outside it are not read.  A parquet file whose column has another
    physical type (``turn_idx`` as int64) fails when it is read, with
    ``PARQUET_COLUMN_DATA_TYPE_MISMATCH`` naming the column.  An Iceberg
    table brings its own schema."""
    if fmt == "auto":
        # file-extension sniff BEFORE the catalog-name heuristic: a
        # slash-less FILE name ('drops.jsonl') must not route to the
        # Iceberg catalog just because the jars are present
        if path.endswith(".json") or path.endswith(".jsonl"):
            fmt = "json"
        elif path.endswith(".csv"):
            fmt = "csv"
        elif path.endswith(".orc"):
            fmt = "orc"
        elif path.endswith(".parquet"):
            fmt = "parquet"
        elif "/" not in path and iceberg_available(spark):
            fmt = "iceberg"
        else:
            fmt = "parquet"
    if fmt == "iceberg":
        return spark.read.format("iceberg").load(path)
    if fmt == "json":
        return spark.read.schema(INPUT_SCHEMA).json(path)
    if fmt == "csv":
        return spark.read.schema(INPUT_SCHEMA).option("header", "true").csv(path)
    if fmt == "orc":
        return spark.read.schema(INPUT_SCHEMA).orc(path)
    return spark.read.schema(INPUT_SCHEMA).parquet(path)


def write_output(df: DataFrame, path: str, mode: str = "overwrite", fmt: str = "auto") -> None:
    """Write extraction output; Iceberg when targeting a catalog table."""
    if fmt == "auto":
        # extension check first — see load_transcripts: 'out.parquet' must
        # never become catalog table ('out', 'parquet')
        if path.endswith(".orc"):
            fmt = "orc"
        elif path.endswith(".parquet"):
            fmt = "parquet"
        elif "/" not in path and iceberg_available(df.sparkSession):
            fmt = "iceberg"
        else:
            fmt = "parquet"
    if fmt == "iceberg":
        writer = df.writeTo(path)
        (writer.createOrReplace() if mode == "overwrite" else writer.append())
        return
    if fmt == "orc":
        df.write.mode(mode).orc(path)
        return
    df.write.mode(mode).parquet(path)


def write_range_clustered(
    df: DataFrame,
    path: str,
    num_files: int = 16,
    mode: str = "overwrite",
) -> None:
    """Write parquet range-clustered on (conv_id, turn_idx): files carry
    NON-OVERLAPPING conv_id ranges (pinned by tests/test_sources.py).

    Why at 100 TB: parquet row-group min/max stats ("zone maps") only
    prune when values are clustered — a hash layout smears every conv_id
    range across every file, so a point/range predicate on conv_id reads
    everything.  repartitionByRange gives disjoint per-file ranges (range
    boundaries from a reservoir sample — one extra sampling pass), and the
    within-file sort keeps row groups tight, so
    ``WHERE conv_id = 'x'`` touches exactly one file.  This is the
    parquet analogue of Iceberg's sorted-table write ordering.
    """
    (
        df.repartitionByRange(num_files, "conv_id", "turn_idx")
        .sortWithinPartitions("conv_id", "turn_idx")
        .write.mode(mode)
        .parquet(path)
    )
