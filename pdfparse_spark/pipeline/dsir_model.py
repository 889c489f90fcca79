"""Persisted DSIR model: train the λ table once, score any frame — or a
live stream — from storage.

Data Selection via Importance Resampling (Xie et al.) in both of its
forms.  The in-plan ops train the importance model inside the query:
:func:`docs_dsir_weights` (the gate form, oracled) and
:func:`dsir_weights_frames` (the explicit-target form).  Production data
selection is instead a TRAIN job run when the target set changes, and
many SCORE jobs that apply the stored model to each new crawl
increment — the third instance of the engine's index-lifecycle pattern
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
from .corpus import SQL_TOKS, tokenize, tokenized_arr

__all__ = [
    "docs_dsir_weights",
    "dsir_keep_ids",
    "dsir_weights_frames",
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


# DSIR hashed-feature space and target split.  The GATE op uses 1024
# buckets (keeps the LM broadcast-tiny while leaving hash collisions
# visible at test scale) with cross-product λ — exact-integer ratios the
# DuckDB oracle reproduces bit-for-bit.  The PRODUCTION face
# (dsir_weights_frames) defaults to the published 10k buckets (Xie et
# al.) with log-domain λ, which stays in double range at web-scale
# counts; a pytest pins log-domain == cross-product to fp tolerance.
# The "target corpus" stand-in is the deterministic doc_id % 10 == 0
# slice (same convention as DECON_BENCH_MOD's held-out benchmark).
_DSIR_BUCKETS = 1024
_DSIR_PROD_BUCKETS = 10_000
_DSIR_TARGET_MOD = 10

# DSIR scoring CTE chain (tokens → hashed uni+bigram features → bucket
# LM → broadcast λ → per-doc log_w), dsir_-prefixed so it composes into
# larger oracle chains (corpus_curate_dsir) without CTE-name collisions.
# A bare CTE list ending in `dsir_scored` (doc_id, n_feats, log_w for
# docs WITH features); callers prepend WITH and handle no-feature docs.
SQL_DSIR_CTES = f"""
        dsir_toks AS (
            SELECT doc_id, {SQL_TOKS} AS arr FROM documents
        ), dsir_uni AS (
            SELECT doc_id, unnest(arr) AS g FROM dsir_toks
        ), dsir_bi AS (
            -- zipped multi-unnest: parallel unnests align element-wise
            SELECT doc_id,
                   unnest(arr[1:len(arr) - 1]) || ' ' || unnest(arr[2:len(arr)]) AS g
            FROM dsir_toks WHERE len(arr) >= 2
        ), dsir_fb AS (
            SELECT doc_id,
                   CAST(concat('0x', substr(md5('dsir:' || g), 1, 13)) AS BIGINT)
                       % {_DSIR_BUCKETS} AS b,
                   doc_id % {_DSIR_TARGET_MOD} = 0 AS is_t
            FROM (SELECT * FROM dsir_uni UNION ALL SELECT * FROM dsir_bi)
        ), dsir_bc AS (
            SELECT b,
                   CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS ct,
                   CAST(sum(CASE WHEN is_t THEN 0 ELSE 1 END) AS BIGINT) AS cr
            FROM dsir_fb GROUP BY b
        ), dsir_tot AS (
            SELECT CAST(sum(ct) AS BIGINT) AS tt, CAST(sum(cr) AS BIGINT) AS tr
            FROM dsir_bc
        ), dsir_lm AS (
            SELECT b, ln( ((ct + 1) * (tr + {_DSIR_BUCKETS})) * 1.0
                          / ((cr + 1) * (tt + {_DSIR_BUCKETS})) ) AS lam
            FROM dsir_bc CROSS JOIN dsir_tot
        ), dsir_scored AS (
            -- + 0.0 canonicalizes IEEE -0.0 to +0.0, matching the Spark op
            SELECT f.doc_id, count(*) AS n_feats,
                   round(sum(l.lam), 4) + 0.0 AS log_w
            FROM dsir_fb f JOIN dsir_lm l USING (b) GROUP BY f.doc_id
        )
"""


def docs_dsir_weights(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al., NeurIPS 2023):
    score every raw document by the log-likelihood ratio of a hashed-n-gram
    unigram+bigram LM fit on a small target corpus vs one fit on the raw
    pool — the standard cheap proxy for "looks like the data I want more
    of".  Features are hashed into ``_DSIR_BUCKETS`` buckets (md5-based —
    the engine-portable draw every sampling op here uses), add-one
    smoothed; ``log_w = Σ_features ln(p_target[b] / p_raw[b])``, and
    ``keep`` flags target-leaning docs (rounded log_w > 0).

    Scale — the whole point of DSIR's hashing: both LMs together are ≤B
    rows, so scoring 100 TB is (1) one explode + hash-agg on ≤1024 keys
    (map-side combine collapses each partition to ≤1024 rows before the
    shuffle), (2) a broadcast join of the λ table, (3) one doc-keyed sum.
    No global sort, no driver state beyond a 1024-row broadcast.  The λ
    ratio is computed from exact integer cross-products (< 2^53 here;
    at production counts compute λ as ln(ct+1)−ln(Tt+B)−ln(cr+1)+ln(Tr+B)
    to stay in range — same values to fp rounding).
    """
    toks = (
        docs.select("doc_id", "arr") if docs is not None else tokenized_arr(spark, sf_dir)
    )
    # the hashed feature stream feeds TWO independent legs (the LM-build
    # aggregate and the scoring join) whose subplans share no exchange, so
    # without this eager checkpoint the explode + md5 per feature runs
    # twice; the materialized frame is three ints per occurrence.  At
    # extreme scale swap for persist(DISK_ONLY) or accept the recompute —
    # the trade is stated, not hidden.
    fb = _dsir_fb(
        toks, (F.col("doc_id") % _DSIR_TARGET_MOD == 0)
    ).localCheckpoint(eager=True)
    return _dsir_weights(toks, fb, fb)


def dsir_keep_ids(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """(doc_id) of every target-leaning doc (rounded log_w > 0) — the DSIR
    leg of the curation composition (corpus_curate_dsir and its
    successors, run_curate ``--dsir-filter``)."""
    return (
        docs_dsir_weights(spark, sf_dir, docs=docs)
        .filter(F.col("keep") == 1)
        .select("doc_id")
    )


def _dsir_fb(toks: DataFrame, is_t, buckets: int = _DSIR_BUCKETS) -> DataFrame:
    """(doc_id, b, is_t) hashed unigram+bigram feature stream — the ONE
    definition of DSIR's feature space, shared by the gate op (mod-split
    flag) and the explicit-target production face."""
    B = buckets
    bi = (
        "CASE WHEN size(arr) >= 2 THEN "
        "transform(sequence(1, size(arr) - 1), "
        "i -> concat_ws(' ', element_at(arr, i), element_at(arr, i + 1))) "
        "ELSE array() END"
    )
    feats = toks.select("doc_id", F.explode(F.expr(f"concat(arr, {bi})")).alias("g"))
    u52 = "CAST(conv(substring(md5(concat('dsir:', g)), 1, 13), 16, 10) AS BIGINT)"
    return feats.select(
        "doc_id", F.expr(f"{u52} % {B}").alias("b"), is_t.alias("is_t")
    )


def dsir_weights_frames(
    spark: SparkSession,
    raw_docs: DataFrame,
    target_docs: DataFrame,
    text_col: str = "text",
    buckets: int = _DSIR_PROD_BUCKETS,
    log_domain: bool = True,
) -> DataFrame:
    """The production face of docs_dsir_weights: score an arbitrary RAW
    frame against an EXPLICIT target corpus (separate tables, ids may
    collide — the target only trains p_target, it is never scored).  The
    gate op derives both sides from its deterministic mod split; this
    face is what a real pipeline calls with (yesterday's crawl, curated
    target set).  Same plan shape: two bounded bucket aggregates, driver
    scalars, broadcast λ, one doc-keyed sum over the raw side.

    Defaults are the PRODUCTION parameters: the published 10k hashed
    buckets and log-domain λ (ln(ct+1) − ln(Tt+B) − ln(cr+1) + ln(Tr+B)),
    which never forms the cross-product and so stays in double range at
    web-scale counts.  Pass ``buckets=_DSIR_BUCKETS, log_domain=False``
    to reproduce the gate op's oracle-parity arithmetic exactly (the
    parity pytest does)."""
    raw_toks = tokenize(raw_docs, text_col)
    tgt_toks = tokenize(target_docs, text_col)
    fb_raw = _dsir_fb(raw_toks, F.lit(False), buckets=buckets).localCheckpoint(
        eager=True
    )
    fb_lm = fb_raw.unionByName(_dsir_fb(tgt_toks, F.lit(True), buckets=buckets))
    return _dsir_weights(
        raw_toks, fb_lm, fb_raw, buckets=buckets, log_domain=log_domain
    )


def _dsir_weights(
    score_toks: DataFrame,
    fb_lm: DataFrame,
    fb_score: DataFrame,
    buckets: int = _DSIR_BUCKETS,
    log_domain: bool = False,
) -> DataFrame:
    """Score the docs of ``score_toks`` with the λ table trained from
    ``fb_lm`` — feature rows scored are ``fb_score`` (the gate op passes
    its one checkpointed frame as both; the frames face trains on
    raw ∪ target but scores raw only).  One row per scored document."""
    lm, _tt, _tr = _dsir_lm(fb_lm, buckets, log_domain)
    return _dsir_score(score_toks, fb_score, lm)


def _dsir_lm(fb_lm: DataFrame, buckets: int, log_domain: bool):
    """(lm, tt, tr): the (b, lam) λ table fit on a (doc_id, b, is_t)
    feature stream plus the target/raw feature totals — the ONE training
    body behind the in-plan ops and :func:`train_dsir_model`.
    ``log_domain`` selects the λ arithmetic: False = exact-integer
    cross-product ratio (oracle-parity, needs counts < 2^53); True =
    sum/difference of logs (production — unbounded counts, equal to the
    cross-product to fp rounding)."""
    B = buckets
    # the ≤B-row LM is materialized once (its aggregate would otherwise
    # re-execute under every consumer subplan — verified: no exchange
    # reuse between them), and the two corpus totals come to the driver
    # as scalars (codebook-style collect, bounded by construction) so λ
    # is pure literal arithmetic — no one-row cross join at all
    bc = (
        fb_lm.groupBy("b")
        .agg(
            F.sum(F.col("is_t").cast("long")).alias("ct"),
            F.sum((~F.col("is_t")).cast("long")).alias("cr"),
        )
        .localCheckpoint(eager=True)
    )
    tot = bc.agg(F.sum("ct").alias("tt"), F.sum("cr").alias("tr")).collect()[0]
    tt, tr = int(tot["tt"] or 0), int(tot["tr"] or 0)
    if log_domain:
        lam = (
            F.log((F.col("ct") + 1).cast("double"))
            - F.lit(math.log(tt + B))
            - F.log((F.col("cr") + 1).cast("double"))
            + F.lit(math.log(tr + B))
        )
    else:
        lam = F.log(
            ((F.col("ct") + 1) * F.lit(tr + B)).cast("double")
            / ((F.col("cr") + 1) * F.lit(tt + B)).cast("double")
        )
    return bc.select("b", lam.alias("lam")), tt, tr


def _dsir_score(
    score_toks: DataFrame, fb_score: DataFrame, lm: DataFrame
) -> DataFrame:
    """Score per-doc feature rows against a λ table — the apply half of
    DSIR, shared by the in-plan ops (λ trained in the same plan) and the
    persisted-model face (λ loaded from storage).  One row per scored
    document; a doc whose text tokenizes to nothing scores 0, not
    absent."""
    scored = (
        fb_score.join(F.broadcast(lm), "b")
        .groupBy("doc_id")
        # + 0.0 canonicalizes IEEE -0.0 (a doc whose λ sum rounds to zero
        # from below) to +0.0 — the oracle does the same
        .agg(
            F.count("*").alias("n_feats"),
            (F.round(F.sum("lam"), 4) + F.lit(0.0)).alias("log_w"),
        )
    )
    return (
        score_toks.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_feats"), F.lit(0)).alias("n_feats"),
            F.coalesce(F.col("log_w"), F.lit(0.0)).alias("log_w"),
            (F.coalesce(F.col("log_w"), F.lit(0.0)) > 0).cast("int").alias("keep"),
        )
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
    fb = _dsir_fb(tokenize(raw_docs, text_col), F.lit(False), buckets=buckets).unionByName(
        _dsir_fb(tokenize(target_docs, text_col), F.lit(True), buckets=buckets)
    )
    lm, tt, tr = _dsir_lm(fb, buckets, log_domain=True)
    lm.coalesce(1).write.mode("overwrite").parquet(out_dir + "/lm")
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
    toks = tokenize(docs, text_col)
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
        toks = tokenize(batch_df, "text")
        fb = _dsir_fb(toks, F.lit(False), buckets=buckets).select("doc_id", "b")
        return _dsir_score(toks, fb, lm)

    return start_foreach_batch(
        stream, _score_batch, checkpoint_dir, available_now, out_dir=out_dir
    )


ORACLES: dict[str, str] = {
    "docs_dsir_weights": f"""
        WITH {SQL_DSIR_CTES}
        -- one row per document: a doc with no features scores 0, not absent
        SELECT d.doc_id,
               CAST(COALESCE(s.n_feats, 0) AS BIGINT) AS n_feats,
               COALESCE(s.log_w, 0.0) AS log_w,
               CASE WHEN COALESCE(s.log_w, 0.0) > 0 THEN 1 ELSE 0 END AS keep
        FROM documents d LEFT JOIN dsir_scored s USING (doc_id)
    """,
}

QUERIES = {
    "docs_dsir_weights": docs_dsir_weights,
}
