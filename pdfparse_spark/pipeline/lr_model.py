"""Persisted embedding-quality classifier: train the logistic-regression
model once, score any frame — or a live stream — from storage.

The in-plan form trains the classifier inside the query:
:func:`train_embed_lr` (the gate form — its training trace) plus the
hardwired scoring pass ``embed.embed_quality_score``.  Production
model-based filtering (CCNet / RefinedWeb style) is instead a TRAIN job
run when labeled data changes, and many SCORE jobs that apply the stored
model to each new crawl increment — the fourth instance of the engine's
index-lifecycle pattern (``ann_index.py``, ``bloom_index.py``,
``dsir_model.py``):

- :func:`train_lr_model` runs the distributed full-batch GD loop
  (:func:`_lr_fit` — one aggregate job per iteration, ~dim+2 doubles
  to the driver) over any (vec_id, embedding, label) frame, folds the
  per-dimension standardization into RAW-space coefficients driver-side
  (w'_j = w_j/sd_j, b' = b − Σ w_j·mu_j/sd_j, plain left fold in index
  order so the artifact is reproducible bit-for-bit), and writes two
  parquet tables under ``out_dir``: ``weights`` (pos, w, mu, sd) — dim
  rows; and ``meta`` (dim, bias, target_label, iters, rate, final_loss,
  feat_tag).
- :func:`score_with_lr_model` appends (quality_score, keep) to any
  (vec_id, embedding) frame — one scan, one JVM projection against the
  constant-folded stored weight vector; no training work, no labels
  needed at score time.  Scoring always uses the STORED dim and feature
  tag, never the caller's (the bloom-index seed lesson: a feature-space
  mismatch silently mis-scores every row).  Rows whose vector length
  differs from the stored dim get (NULL, false) — malformed rows never
  keep — rather than a silent wrong dot product.
- :func:`start_stream_lr_score` scores an embedding STREAM with the
  stored model: per-row scores depend only on that row's own vector and
  the static weights, so micro-batch boundaries cannot change any
  verdict and a replayed batch rewrites its own ``batch=<id>`` output
  partition byte-identically (dynamic per-batch dirs, the stream_extract
  scheme).

Scale: training is ``iters`` map-side-combinable aggregate jobs over a
persisted standardized projection (train_embed_lr's plan); the
stored model is dim+1 doubles; scoring a 100 TB increment is one scan
with an embarrassingly-parallel projection — no shuffle, no UDF, the
weight vector is ONE array Literal (never a per-dim expression chain —
the sign-LSH Janino lesson).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .artifact import (
    read_meta,
    read_stream,
    start_foreach_batch,
    write_meta,
    write_rows,
)
from .corpus import double_vector, read_emb

__all__ = [
    "train_embed_lr",
    "train_lr_model",
    "score_with_lr_model",
    "start_stream_lr_score",
]

# the scoring convention baked into the artifact: raw-space fold of the
# standardization, left-fold dot from 0D, sigmoid over round(margin, 6).
# Stored in meta so a future change cannot be silently applied to a model
# trained under the old convention.
_FEAT_TAG = "embed-lr-rawfold-v1"
_TAG_MISMATCH = (
    "model at %r was trained under scoring convention %r; this "
    "build scores with %r — applying it would be silently wrong, "
    "retrain the model"
)

_LR_ITERS = 25
_LR_RATE = 5.0
_LR_LABEL = 0  # one-vs-rest target class


def sql_darray(vals) -> str:
    """A literal array<double> SQL fragment.  Catalyst constant-folds it to
    ONE Literal node, so shipping a dim-sized vector per iteration costs
    nothing at plan time (the sign-LSH hyperplane lesson: never build
    dim-sized +/- expression chains — they blow the Janino 64KB codegen
    limit and fall back to interpreted eval)."""
    return "array(%s)" % ", ".join("%rD" % float(v) for v in vals)


def embed_centered_stats(
    spark: SparkSession, sf_dir: str, embs: DataFrame | None = None
):
    """Shared prep for the iterative embedding loops (LR standardization,
    PCA centering): the cast projection plus per-dimension mean /
    population variance and the row count — all from ONE posexplode
    aggregate job (dim rows cross the driver).  A single definition so a
    fix to NULL/ragged handling cannot desynchronize the two consumers.
    ``embs`` overrides the default sf_dir table (the lr_model lifecycle
    trains on caller-supplied frames — the docs= pattern)."""
    e = (embs if embs is not None else read_emb(spark, sf_dir)).select(
        "vec_id",
        "label",
        double_vector().alias("x0"),
    )
    rows = (
        e.select(F.posexplode("x0").alias("pos", "xv"))
        .groupBy("pos")
        .agg(
            F.avg("xv").alias("m"),
            F.var_pop("xv").alias("var"),
            F.count("*").alias("n"),
        )
        .collect()
    )
    dim = len(rows)
    stats = {r["pos"]: (r["m"], r["var"]) for r in rows}
    n = rows[0]["n"] if rows else 0
    return e, dim, stats, n


def train_embed_lr(
    spark: SparkSession,
    sf_dir: str,
    iters: int = _LR_ITERS,
    rate: float = _LR_RATE,
) -> DataFrame:
    """Distributed logistic-regression training (one-vs-rest on the
    embeddings table's label column) by full-batch gradient descent — the
    quality-classifier training loop of a curation pipeline, run INSIDE
    the engine: each iteration is ONE aggregate job computing the loss,
    the bias gradient, and all dim weight gradients as plain JVM sum
    aggregates (no explode, no UDF — sum((p−y)·x[j]) per dimension), so
    only ~dim+2 doubles ever cross the driver per iteration.

    Features are per-dimension standardized first (one posexplode
    aggregate; dim rows to the driver) — without it the raw embeddings
    need ~100× more iterations to separate.  Returns the training trace
    (iter, loss, avg p̂ on positives/negatives): rows-only gate —
    iterative and transcendental (sigmoid/log), not SQL-expressible —
    with convergence invariants pinned in pytest.

    Scale: the standardization aggregate and each GD iteration are
    map-side-combinable aggregates over a persisted projection; nothing
    grows with n on the driver.  At 10¹² rows switch full-batch to
    mini-batch by sampling a deterministic doc_id slice per iteration —
    the job shape is unchanged.
    """
    e, dim, stats, _n = embed_centered_stats(spark, sf_dir)
    b, w, trace, _mu, _sd = _lr_fit(e, dim, stats, iters, rate)
    return spark.createDataFrame(
        trace, "iter: int, loss: double, p_pos: double, p_neg: double"
    )


def _lr_fit(
    e: DataFrame,
    dim: int,
    stats: dict,
    iters: int,
    rate: float,
    target_label: int = _LR_LABEL,
):
    """The full-batch GD loop shared by :func:`train_embed_lr` (returns
    the trace) and ``lr_model.train_lr_model`` (persists the artifact).
    ``e`` is the (label, x0) projection from :func:`embed_centered_stats`;
    returns (bias, weights, trace, mu, sd) in STANDARDIZED space —
    callers that score raw vectors must fold mu/sd into the weights."""
    mu = [stats[j][0] for j in range(dim)]
    sd = [
        v ** 0.5 if v is not None and v > 1e-24 else 1.0
        for v in (stats[j][1] for j in range(dim))
    ]
    ex = e.select(
        (F.col("label") == target_label).cast("double").alias("y"),
        F.expr(
            f"zip_with(zip_with(x0, {sql_darray(mu)}, (a, m) -> a - m), "
            f"{sql_darray(sd)}, (c, s) -> c / s)"
        ).alias("x"),
    ).persist()
    try:
        w = [0.0] * dim
        b = 0.0
        trace = []
        n = None
        for it in range(iters):
            margin = F.expr(
                f"aggregate(zip_with(x, {sql_darray(w)}, (a, b) -> a * b), "
                f"{b!r}D, (acc, v) -> acc + v)"
            )
            p = F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))
            withp = ex.select("y", "x", p.alias("p"))
            loss = -(
                F.col("y") * F.log(F.greatest(F.col("p"), F.lit(1e-12)))
                + (1 - F.col("y")) * F.log(F.greatest(1 - F.col("p"), F.lit(1e-12)))
            )
            aggs = [
                F.count("*").alias("n"),
                F.avg(loss).alias("loss"),
                F.avg(F.col("p") - F.col("y")).alias("gb"),
                F.avg(F.when(F.col("y") == 1.0, F.col("p"))).alias("p_pos"),
                F.avg(F.when(F.col("y") == 0.0, F.col("p"))).alias("p_neg"),
            ] + [
                F.sum(F.expr(f"(p - y) * x[{j}]")).alias(f"g{j}") for j in range(dim)
            ]
            row = withp.agg(*aggs).collect()[0]
            n = row["n"]
            trace.append(
                (
                    it,
                    round(row["loss"], 6),
                    round(row["p_pos"] or 0.0, 6),
                    round(row["p_neg"] or 0.0, 6),
                )
            )
            b -= rate * row["gb"]
            w = [wj - rate * row[f"g{j}"] / n for j, wj in enumerate(w)]
        return b, w, trace, mu, sd
    finally:
        ex.unpersist()


# one schema definition for embedding-stream sources (mirrors the
# embeddings parquet table so tests and pipelines can feed slices of it)
EMB_INPUT_SCHEMA = "vec_id long, embedding array<float>, label int"


def train_lr_model(
    spark: SparkSession,
    embs: DataFrame,
    out_dir: str,
    target_label: int = _LR_LABEL,
    iters: int = _LR_ITERS,
    rate: float = _LR_RATE,
) -> dict:
    """Fit the one-vs-rest classifier on ``embs`` (vec_id, embedding,
    label) and persist raw-space weights + meta.  Returns training
    stats (final loss, separation) so callers can gate on convergence
    before shipping the model.  Refuses a frame with inconsistent vector
    dimensions: ragged rows would NULL out of the standardized zip_with
    and silently deflate every gradient (the count stays in n while the
    sums drop them) — the train-time twin of the score-time dim guard."""
    e, dim, stats, _n = embed_centered_stats(spark, "", embs=embs)
    n_bad = embs.filter(F.size(F.col("embedding")) != dim).count()
    if n_bad:
        raise ValueError(
            "training frame has %d row(s) whose vector length != %d (the "
            "max dimension observed); a mixed-dimension frame trains a "
            "silently skewed model — clean the input first" % (n_bad, dim)
        )
    b, w, trace, mu, sd = _lr_fit(
        e, dim, stats, iters, rate, target_label=target_label
    )
    # fold standardization into raw-space coefficients, deterministically:
    # margin(x) = b + Σ w_j (x_j − mu_j)/sd_j  =  bias + Σ (w_j/sd_j) x_j
    w_raw = [wj / sj for wj, sj in zip(w, sd)]
    bias = b
    for wj, mj, sj in zip(w, mu, sd):
        bias -= wj * mj / sj
    write_rows(
        spark,
        [(j, float(w_raw[j]), float(mu[j]), float(sd[j])) for j in range(dim)],
        "pos int, w double, mu double, sd double",
        out_dir + "/weights",
    )
    final_loss = trace[-1][1] if trace else float("nan")
    write_meta(
        spark,
        out_dir,
        (
            dim,
            float(bias),
            int(target_label),
            int(iters),
            float(rate),
            float(final_loss),
            _FEAT_TAG,
        ),
        "dim int, bias double, target_label int, iters int, "
        "rate double, final_loss double, feat_tag string",
    )
    return {
        "dim": dim,
        "final_loss": final_loss,
        "p_pos": trace[-1][2] if trace else None,
        "p_neg": trace[-1][3] if trace else None,
    }


def _read_model(spark: SparkSession, model_dir: str):
    meta = read_meta(spark, model_dir, expect_tag=_FEAT_TAG, mismatch=_TAG_MISMATCH)
    rows = (
        spark.read.parquet(model_dir + "/weights")
        .orderBy("pos")
        .collect()
    )
    dim = int(meta["dim"])
    if len(rows) != dim or [r["pos"] for r in rows] != list(range(dim)):
        raise ValueError(
            "model at %r: weights table has %d rows for dim=%d — the "
            "artifact is corrupt" % (model_dir, len(rows), dim)
        )
    return meta, [r["w"] for r in rows]


def score_with_lr_model(
    spark: SparkSession,
    embs: DataFrame,
    model_dir: str,
    vec_col: str = "embedding",
) -> DataFrame:
    """Append (quality_score, keep) to ``embs`` from the stored model —
    the scoring half of the classifier without its training half.  Dim
    and convention come from STORED meta.  One row per input row;
    wrong-dimension vectors score (NULL, false)."""
    meta, w = _read_model(spark, model_dir)
    return _score_frame(embs, int(meta["dim"]), float(meta["bias"]), w, vec_col)


def _score_frame(
    embs: DataFrame, dim: int, bias: float, w: list, vec_col: str
) -> DataFrame:
    margin = (
        F.expr(
            f"aggregate(zip_with(CAST({vec_col} AS array<double>), "
            f"{sql_darray(w)}, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"
        )
        + F.lit(bias)
    )
    margin = F.when(F.size(F.col(vec_col)) == dim, margin)
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-F.round(margin, 6)))
    return embs.select(
        "*",
        F.round(score, 4).alias("quality_score"),
        F.coalesce((margin >= 0), F.lit(False)).cast("boolean").alias("keep"),
    )


def start_stream_lr_score(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    model_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    available_now: bool = True,
):
    """Score an embedding stream against the persisted model.  Meta and
    weights are read ONCE at stream start (a model is immutable for its
    lifetime — retraining writes a new model dir); per-row scores have no
    cross-row state, so batch boundaries cannot change verdicts and a
    replayed batch overwrites its own ``batch=<id>`` dir with identical
    rows (replay-stable without any probe/exclusion protocol)."""
    meta, w = _read_model(spark, model_dir)  # once; fail fast BEFORE start
    dim, bias = int(meta["dim"]), float(meta["bias"])
    stream = read_stream(spark, EMB_INPUT_SCHEMA, input_dir, max_files_per_trigger)
    return start_foreach_batch(
        stream,
        lambda batch_df, _: _score_frame(batch_df, dim, bias, w, "embedding"),
        checkpoint_dir,
        available_now,
        out_dir=out_dir,
    )


# rows-only: iterative and transcendental; convergence pinned by pytest
ORACLES: dict[str, str] = {}

QUERIES = {
    "train_embed_lr": train_embed_lr,
}
