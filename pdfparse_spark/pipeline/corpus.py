"""The shared base of every training-data operator family: the two test
tables (``documents``, ``embeddings``), the one tokenize definition and
its DuckDB twin, the 3-word shingle expression, the compute-once
tokenized checkpoints, and the embedding cast + L2 norm with the
left-fold dot product both engines evaluate bit-identically.

Every family module (``textdedup``, ``textquality``, ``embed``,
``docorder``, ``curate`` and the lifecycle modules) builds on these names;
a tokenize or normalization change made here reaches every op and its
oracle at once.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# tokenization shared by every text op — MUST stay in sync with the DuckDB
# expression SQL_TOKS below (same regex class, same empty-token filter).
# TOKS_T is the column-parameterized template (streaming/neardup.py builds
# the same expression over a different column name).
TOKS_T = "filter(split(lower({col}), '[^a-z0-9]+'), w -> w != '')"
TOKS = TOKS_T.format(col="text")
SQL_TOKS = "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), w -> w <> '')"

# 3-word shingles over the token array (order-preserving, then de-duplicated)
SHINGLES = (
    "CASE WHEN size(arr) >= 3 THEN "
    "array_distinct(transform(sequence(1, size(arr) - 2), "
    "i -> concat_ws(' ', element_at(arr, i), element_at(arr, i + 1), element_at(arr, i + 2)))) "
    "ELSE array() END"
)
SQL_SHINGLES = (
    "list_distinct(list_transform(range(1, greatest(len(arr) - 1, 1)), "
    "i -> arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2]))"
)

EMB_DIM = 64  # the embeddings-table dim (TESTDATA.md); hyperplanes are sized to it

DOT = "aggregate(zip_with(qv, nv, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"
SQL_DOT = "list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * nv[i]))"

SQL_EMB_NORM = (
    "SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v, "
    "sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm "
    "FROM embeddings"
)


def read_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def read_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def tokenize(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, arr) over any frame with a doc_id and a text column — the
    TOKS_T template applied to ``text_col``."""
    return docs.select("doc_id", F.expr(TOKS_T.format(col=text_col)).alias("arr"))


def tokenized_arr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skinny (doc_id, arr) eager-localCheckpointed tokenize — the
    single-tokenize front end for the shingle family: every op that
    derives shingles consumes its (doc_id, sh) frames 2–3 times (sizes +
    both self-join legs; signature + join stages), and each consumer
    sits below any exchange, so without the checkpoint the regex
    tokenize — the most expensive expression in these plans — re-runs
    per consumer.  Values unchanged (tokenize is deterministic).
    Thin wrapper over tokenized_docs (ONE tokenize+checkpoint
    definition) without the fat text column the curate legs need."""
    return tokenized_docs(spark, sf_dir, with_text=False)


def tokenized_docs(
    spark: SparkSession, sf_dir: str, with_text: bool = True
) -> DataFrame:
    """ONE eager-localCheckpointed (doc_id[, text], arr) frame shared by
    every leg of a composed curation plan: the regex tokenize — the most
    expensive expression in the pipeline — runs once per corpus scan
    instead of once per leg (gopher's aggregates, keep_best's quality
    score, and curate_full's LM leg all consume it).  Values are
    unchanged; only the compute-once guarantee is added (the legs'
    differently-keyed aggregates can never share an exchange, so AQE
    cannot provide it).  ``with_text=False`` (the tokenized_arr face)
    drops the fat text column for consumers that only shingle."""
    cols = ["doc_id", "text"] if with_text else ["doc_id"]
    return (
        read_docs(spark, sf_dir)
        .select(*cols, F.expr(TOKS).alias("arr"))
        .localCheckpoint(eager=True)
    )


def double_vector(col: str = "embedding") -> Column:
    """The embedding cast every vector op starts from: ``col`` as an
    array<double> (the oracles' ``list_transform`` twin)."""
    return F.expr("transform(%s, x -> CAST(x AS DOUBLE))" % col)


def norm_vectors(embs: DataFrame, *carry: str) -> DataFrame:
    """(vec_id, *carry, v, nrm) from an embeddings-schema frame: the
    double cast plus the L2 norm, summed left from 0D like DOT."""
    return embs.select(
        "vec_id",
        *carry,
        double_vector().alias("v"),
    ).withColumn("nrm", F.expr("sqrt(aggregate(transform(v, x -> x * x), 0D, (acc, x) -> acc + x))"))


def emb_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return norm_vectors(read_emb(spark, sf_dir), "label")
