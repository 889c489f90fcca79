"""Persisted DSIR model: train the λ table once, score any frame — or a
live stream — from storage.

Production data selection is not one query that trains its importance
model in-plan (that is ``docs_dsir_weights``, the gate form, and
``dsir_weights_frames``, the explicit-target form) — it is a TRAIN job
run when the target set changes, and many SCORE jobs that apply the
stored model to each new crawl increment.  This module is that split,
the third instance of the engine's index-lifecycle pattern
(``ann_index.py``, ``bloom_index.py``):

- :func:`train_dsir_model` fits the hashed unigram+bigram bucket LM over
  (raw pool, target corpus) and writes two parquet tables under
  ``out_dir``: ``lm`` (b, lam) — the ≤``buckets``-row log-domain λ
  table; and ``meta`` (buckets, tt, tr, feat_tag) — the scoring
  parameters.  Scoring always hashes with the STORED bucket count and
  feature tag, never the caller's (the bloom-index seed lesson: a
  feature-space mismatch silently mis-scores every document).
- :func:`score_with_dsir_model` appends (n_feats, log_w, keep) to any
  (doc_id, text) frame — one broadcast join of the stored λ plus one
  doc-keyed sum; no training work, no target corpus needed at score
  time.
- :func:`start_stream_dsir_score` scores a document STREAM with the
  stored model: per-doc scores depend only on that document's own
  features and the static λ, so micro-batch boundaries cannot change
  any verdict and a replayed batch rewrites its own output partition
  byte-identically (dynamic per-batch dirs, the stream_extract scheme).

Scale: training is one explode + hash-aggregate onto ≤``buckets`` keys
(map-side combine — each task ships ≤buckets partial rows regardless of
corpus size) and the stored model is ≤buckets rows; scoring a 100 TB
increment is one scan + broadcast join + doc-keyed sum.  λ is stored in
the log domain (ln(ct+1) − ln(Tt+B) − ln(cr+1) + ln(Tr+B)), which stays
in double range at any corpus count.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .artifact import read_meta, read_stream, start_foreach_batch, write_meta
from .textops import _DSIR_PROD_BUCKETS, _TOKS_T, _dsir_fb, _dsir_score

__all__ = [
    "train_dsir_model",
    "score_with_dsir_model",
    "start_stream_dsir_score",
]

# the feature-space tag baked into the md5 draw (_dsir_fb's 'dsir:'
# prefix); stored in meta so a future feature-space change cannot be
# silently applied to a model trained under the old one
_FEAT_TAG = "dsir-uni+bi-md5"
_TAG_MISMATCH = (
    "model at %r was trained under feature space %r; this build "
    "scores with %r — rescoring would be silently wrong, retrain "
    "the model"
)

# one schema definition for document-stream sources (mirrors the
# documents parquet table so tests and pipelines can feed slices of it)
DOC_INPUT_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def _toks(docs: DataFrame, text_col: str) -> DataFrame:
    return docs.select(
        "doc_id", F.expr(_TOKS_T.format(col=text_col)).alias("arr")
    )


def train_dsir_model(
    spark: SparkSession,
    raw_docs: DataFrame,
    target_docs: DataFrame,
    out_dir: str,
    text_col: str = "text",
    buckets: int = _DSIR_PROD_BUCKETS,
) -> dict:
    """Fit the bucket LM on (raw pool, target corpus) and persist the λ
    table + meta.  Raw and target are separate tables whose doc_ids may
    collide — the target trains p_target only (the dsir_weights_frames
    contract).  Returns model stats."""
    fb = _dsir_fb(_toks(raw_docs, text_col), F.lit(False), buckets=buckets).unionByName(
        _dsir_fb(_toks(target_docs, text_col), F.lit(True), buckets=buckets)
    )
    bc = (
        fb.groupBy("b")
        .agg(
            F.sum(F.col("is_t").cast("long")).alias("ct"),
            F.sum((~F.col("is_t")).cast("long")).alias("cr"),
        )
        .localCheckpoint(eager=True)
    )
    tot = bc.agg(F.sum("ct").alias("tt"), F.sum("cr").alias("tr")).collect()[0]
    tt, tr = int(tot["tt"] or 0), int(tot["tr"] or 0)
    lam = (
        F.log((F.col("ct") + 1).cast("double"))
        - F.lit(math.log(tt + buckets))
        - F.log((F.col("cr") + 1).cast("double"))
        + F.lit(math.log(tr + buckets))
    )
    (
        bc.select("b", lam.alias("lam"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(out_dir + "/lm")
    )
    write_meta(
        spark,
        out_dir,
        (buckets, tt, tr, _FEAT_TAG),
        "buckets int, tt long, tr long, feat_tag string",
    )
    n_seen = spark.read.parquet(out_dir + "/lm").count()
    return {"buckets": buckets, "n_buckets_seen": n_seen, "tt": tt, "tr": tr}


def _read_model(spark: SparkSession, model_dir: str):
    meta = read_meta(spark, model_dir, expect_tag=_FEAT_TAG, mismatch=_TAG_MISMATCH)
    lm = spark.read.parquet(model_dir + "/lm").select("b", "lam")
    return meta, lm


def score_with_dsir_model(
    spark: SparkSession,
    docs: DataFrame,
    model_dir: str,
    text_col: str = "text",
) -> DataFrame:
    """Append (n_feats, log_w, keep) to ``docs`` from the stored model —
    the scoring half of dsir_weights_frames without its training half.
    Bucket count and feature tag come from STORED meta (a mismatch is
    the silent mis-scoring failure mode).  One row per input document;
    empty-tokenizing docs score 0."""
    meta, lm = _read_model(spark, model_dir)
    toks = _toks(docs, text_col)
    fb = _dsir_fb(toks, F.lit(False), buckets=int(meta["buckets"])).select(
        "doc_id", "b"
    )
    return _dsir_score(toks, fb, lm)


def start_stream_dsir_score(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    model_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    available_now: bool = True,
):
    """Score a document stream against the persisted model.  The λ table
    and meta are read ONCE at stream start (a model is immutable for its
    lifetime — retraining writes a new model dir) and closure-captured;
    the per-batch work is one scoring job.  Per-doc scores depend only
    on the doc's own features and the static λ, so batch boundaries
    cannot change verdicts and a replayed batch overwrites its own
    ``batch=<id>`` output dir with identical rows (replay-stable without
    any probe/exclusion protocol — DSIR scoring has no cross-row
    state, unlike the Bloom stream)."""
    meta, lm = _read_model(spark, model_dir)
    lm = lm.localCheckpoint(eager=True)  # pin the tiny table in memory
    buckets = int(meta["buckets"])
    stream = read_stream(spark, DOC_INPUT_SCHEMA, input_dir, max_files_per_trigger)

    def _score_batch(batch_df, batch_id: int) -> DataFrame:
        toks = _toks(batch_df, "text")
        fb = _dsir_fb(toks, F.lit(False), buckets=buckets).select("doc_id", "b")
        return _dsir_score(toks, fb, lm)

    return start_foreach_batch(
        stream, _score_batch, checkpoint_dir, available_now, out_dir=out_dir
    )
