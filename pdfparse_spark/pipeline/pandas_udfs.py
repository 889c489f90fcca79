"""Vectorized pandas-UDF surfaces (scalar @pandas_udf + grouped-map
applyInPandas) — the two Arrow UDF shapes the extraction engine does NOT
already exercise through mapInPandas.

Used when the computation is per-row-vectorizable (scalar) or needs full
per-group visibility (grouped map) but still shouldn't shuffle payload bytes
more than once.  Both stay Arrow-batched end-to-end (no per-row Python at
the Spark boundary, per BASELINE.json input_hint).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from . import textquality

__all__ = ["text_tokens_vectorized", "conv_reassemble", "QUERIES", "ORACLES"]

# ASCII whitespace spelled out: Java's \s (the JVM surface / oracle) is
# ASCII-only while Python's \s and str.split() cover Unicode whitespace —
# the classes must match for bit-parity on e.g. NBSP-bearing text
_ASCII_WS = " \t\n\x0b\f\r"
_BPE_RE = r"[a-z]+|[0-9]+|[^a-z0-9" + _ASCII_WS + r"]"


@pandas_udf(T.LongType())
def _bpe_count(texts: pd.Series) -> pd.Series:
    # vectorized over the Arrow batch: one str.count per series, no row
    # loop.  NULL text stays NULL (nullable Int64), exactly like the JVM
    # regexp_count surface and the DuckDB oracle — a plain astype('int64')
    # raised IntCastingNaNError on the first NULL row
    return texts.str.lower().str.count(_BPE_RE).astype("Int64")


@pandas_udf(T.LongType())
def _ws_count(texts: pd.Series) -> pd.Series:
    # NULL -> NULL (not 0): size(filter(split(NULL, ...), ...)) is NULL on
    # the JVM surface this UDF is pinned against
    return (
        texts.str.split("[" + _ASCII_WS + "]+", regex=True)
        .map(lambda ws: sum(1 for w in ws if w) if isinstance(ws, list) else ws)
        .astype("Int64")
    )


def text_tokens_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same result as textquality.text_tokens, computed via scalar Arrow
    pandas_udfs instead of JVM expressions — pinned to the same DuckDB
    oracle, demonstrating result-parity between the two execution surfaces."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return d.select(
        "doc_id",
        _ws_count(F.col("text")).alias("ws_tokens"),
        _bpe_count(F.col("text")).alias("bpe_tokens"),
    )


_CONV_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("n_turns", T.LongType(), False),
        T.StructField("n_chars", T.LongType(), False),
        T.StructField("conv_text", T.StringType(), True),
    ]
)


def _reassemble_group(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values("turn_idx")  # stable turn ordering inside the group
    joined = "\n\n".join(t for t in pdf["extracted_text"] if t)
    return pd.DataFrame(
        {
            "conv_id": [pdf["conv_id"].iloc[0]],
            "n_turns": [len(pdf)],
            "n_chars": [len(joined)],
            "conv_text": [joined],
        }
    )


def conv_reassemble(extracted: DataFrame) -> DataFrame:
    """R13 via grouped-map applyInPandas: one full conversation per group,
    turns concatenated in turn_idx order.  The shuffle key is conv_id — at
    10^12 turns this is the one place conversation-granular grouping is
    genuinely required, and it happens AFTER extraction dropped the fat
    input payload, so only extracted text moves."""
    return extracted.select("conv_id", "turn_idx", "extracted_text").groupBy(
        "conv_id"
    ).applyInPandas(_reassemble_group, schema=_CONV_SCHEMA)


QUERIES = {"text_tokens_vectorized": text_tokens_vectorized}

# the pandas_udf surface must produce the SAME result as the JVM surface
ORACLES = {"text_tokens_vectorized": textquality.ORACLES["text_tokens"]}
