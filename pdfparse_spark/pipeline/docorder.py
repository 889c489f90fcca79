"""Document order, sampling and packing operators over the ``documents``
table: the deterministic md5 global shuffle (and its exclusive prefix
sum), PPS and language-mixture sampling, fixed-size token chunking,
quality-weighted epoch repeats and their interleaved training order, the
exact stratified train/val split, curriculum order and whole-document
sequence packing.

Every draw is keyed by doc_id through md5 (never RNG state), so Spark and
the DuckDB oracles in ``ORACLES`` select identical rows and retries are
deterministic; every global rank uses the two-phase bucket trick, so no
plan funnels through a SinglePartition exchange.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .corpus import SQL_TOKS, TOKS, read_docs
from .textquality import SQL_QEXPR, quality_expr


def docs_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle for training-order assignment: rank
    every doc by md5(seed || doc_id) — reproducible across engines and
    runs, unlike rand().  md5 (not xxhash64) so DuckDB reproduces the
    exact order for the oracle.

    Scale: a naive `row_number() OVER (ORDER BY key)` collapses to an
    Exchange SinglePartition — every row through one task.  Instead:
    two-phase rank.  Phase 1 ranks within 256 buckets (first md5 byte —
    uniform by construction) under hashpartitioning; phase 2 adds each
    bucket's global offset, a 256-row cumulative sum broadcast back.  The
    only single-partition work is over the 256 offset rows.
    """
    return md5_shuffle_rank(read_docs(spark, sf_dir))


def md5_shuffle_rank(
    d: DataFrame,
    *extra_cols: str,
    cumsum_col: str | None = None,
    key: Column | None = None,
) -> DataFrame:
    """Two-phase deterministic global rank by md5(seed || doc_id) over any
    DataFrame with a doc_id column (see docs_global_shuffle for the scale
    argument); ``extra_cols`` are carried through and, after doc_id,
    break equal keys.  ``key`` replaces the md5 hex key (it must stay
    uniform in its first byte).

    With ``cumsum_col`` set (must name a column of ``d``), also emits
    ``cum_start`` — the exclusive prefix sum of that column in shuffle
    order — using the SAME two-phase trick: a per-bucket running sum under
    hashpartitioning plus a broadcast 256-row bucket-offset table, so the
    global prefix sum never funnels through a SinglePartition exchange.
    """
    if key is None:
        key = F.md5(
            F.encode(F.concat(F.lit("seed42:"), F.col("doc_id").cast("string")), "utf-8")
        )
    cols = list(extra_cols)
    if cumsum_col is not None and cumsum_col not in cols:
        cols.append(cumsum_col)
    keyed = d.select("doc_id", *cols).withColumn("shuffle_key", key).withColumn(
        "bkt", F.substring("shuffle_key", 1, 2)
    )
    aggs = [F.count("*").alias("n")]
    if cumsum_col is not None:
        aggs.append(F.sum(cumsum_col).alias("wsum"))
    counts = keyed.groupBy("bkt").agg(*aggs)
    # 256 rows: the unbounded-preceding window over them is trivially cheap
    prior = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn(
        "bkt_offset", F.coalesce(F.sum("n").over(prior), F.lit(0))
    )
    off_cols = ["bkt", "bkt_offset"]
    if cumsum_col is not None:
        offsets = offsets.withColumn(
            "bkt_woffset", F.coalesce(F.sum("wsum").over(prior), F.lit(0))
        )
        off_cols.append("bkt_woffset")
    offsets = offsets.select(*off_cols)
    w = Window.partitionBy("bkt").orderBy("shuffle_key", "doc_id", *extra_cols)
    ranked = keyed.withColumn("bkt_rank", F.row_number().over(w))
    out_cols = [
        F.col("doc_id"),
        *[F.col(c) for c in cols],
        F.col("shuffle_key"),
        # long: an int rank raises under ANSI past 2^31-1 docs — a
        # bound a 100 TB corpus plausibly exceeds (oracle is BIGINT)
        (F.col("bkt_offset") + F.col("bkt_rank")).cast("long").alias("shuffle_rank"),
    ]
    if cumsum_col is not None:
        ranked = ranked.withColumn(
            "bkt_cum", F.sum(cumsum_col).over(w) - F.col(cumsum_col)
        )
        out_cols.append(
            (F.col("bkt_woffset") + F.col("bkt_cum")).cast("long").alias("cum_start")
        )
    return ranked.join(F.broadcast(offsets), "bkt").select(*out_cols)


_PPS_TARGET = 50  # expected sample size (docs with p clipped at 1 shrink it)


def docs_pps_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Poisson PPS sample: include each doc with probability
    min(1, k * w / W) where w = n_chars and W = total corpus chars —
    quality/size-weighted subsampling, the training-mixture workhorse.

    The per-doc uniform draw is the first 52 bits of md5('pps:' || doc_id)
    (u in [0, 2^52)), and the inclusion test ``u * W < k * w * 2^52`` is
    evaluated in exact decimal/huge integer arithmetic — no doubles, no
    libm — so Spark and the DuckDB oracle select the identical row set.

    Scale: one 1-row broadcast (total weight) + a stateless per-row
    predicate; no shuffle at all beyond the count aggregate.  Deterministic
    under retries (the draw is keyed by doc_id, not RNG state).
    """
    d = read_docs(spark, sf_dir).select("doc_id", "n_chars")
    tot = d.agg(F.sum("n_chars").alias("w_total"))
    u = F.expr(
        "CAST(conv(substring(md5(concat('pps:', CAST(doc_id AS STRING))), 1, 13), 16, 10) AS BIGINT)"
    )
    lhs = u.cast("decimal(20,0)") * F.col("w_total").cast("decimal(20,0)")
    rhs = (
        F.lit(_PPS_TARGET * (1 << 52)).cast("decimal(20,0)")
        * F.col("n_chars").cast("decimal(20,0)")
    )
    return (
        d.crossJoin(F.broadcast(tot))
        .filter(lhs < rhs)
        .select("doc_id", F.col("n_chars").alias("weight"))
    )


_CHUNK_TOKENS = 256  # training sequence length (tokens per packed chunk)


def docs_token_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack-and-chunk sequence assignment — the final step of a pretraining
    data pipeline: concatenate every document's token stream in a
    deterministic global training order and cut the stream into fixed
    ``_CHUNK_TOKENS``-token chunks.  Emits each doc's half-open token
    interval [tok_start, tok_end) plus the first/last chunk it lands in —
    exactly what a downstream loader needs to materialize chunk k without
    re-scanning the corpus.

    Scale: the training order is the md5 shuffle rank and the global
    prefix sum over token counts is the same two-phase bucket trick
    (per-bucket running sums under hashpartitioning + one broadcast
    256-row offset table) — no SinglePartition exchange anywhere; chunk
    ids are integer division on the prefix sum (exact, engine-portable,
    no doubles).
    """
    d = read_docs(spark, sf_dir).select(
        "doc_id", F.size(F.expr(TOKS)).cast("long").alias("n_tok")
    )
    ranked = md5_shuffle_rank(d, cumsum_col="n_tok")
    # integer DIV, not `/`: double division loses exactness past 2^53
    # cumulative tokens — a bound a 100 TB token stream exceeds
    return (
        ranked.withColumn("tok_start", F.col("cum_start"))
        .withColumn("tok_end", F.col("cum_start") + F.col("n_tok"))
        .withColumn("chunk_first", F.expr(f"tok_start DIV {_CHUNK_TOKENS}"))
        .withColumn(
            "chunk_last",
            F.expr(f"greatest(tok_end - 1, tok_start) DIV {_CHUNK_TOKENS}"),
        )
        .select(
            "doc_id",
            "shuffle_rank",
            "n_tok",
            "tok_start",
            "tok_end",
            "chunk_first",
            "chunk_last",
            (F.col("chunk_last") - F.col("chunk_first") + 1).alias("n_chunks_spanned"),
        )
    )


# target corpus mixture by language, numerators over _MIX_DENOM (langs not
# listed are dropped); uniform here — the documents table's en share is
# ~44%, so the op visibly downsamples en while keeping the small strata
_MIX_TARGETS = {"en": 20, "zh": 20, "es": 20, "de": 20, "fr": 20}
_MIX_DENOM = 100


def docs_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-mixture rebalancing — downsample overrepresented strata
    toward a target mix (the static data-mixing step of corpus curation):
    each doc of language l survives with p_l = min(1, t_l * N / n_l),
    where t_l is the target share, N the corpus size and n_l the stratum
    size.  Strata already at or below target keep every doc (p clips at
    1 — no upsampling); overrepresented strata shrink to ~t_l * N docs.

    The per-doc draw is the first 52 bits of md5('mix:' || doc_id) and the
    inclusion test  u * D * n_l  <  t_l * N * 2^52  is exact decimal
    integer arithmetic (D = the target denominator) — no doubles, no RNG
    state, so Spark and DuckDB select identical rows and retries are
    deterministic.  Returns the per-language before/after summary.

    Scale: one tiny lang-keyed agg (|langs| rows, broadcast back), a
    stateless per-row predicate, one lang-keyed summary agg.  The draw is
    keyed by doc_id, so speculative re-execution can't change the sample.
    """
    d = read_docs(spark, sf_dir).select("doc_id", "lang")
    strata = d.groupBy("lang").agg(F.count("*").alias("n_l"))
    tot = d.agg(F.count("*").alias("n_total"))
    target = F.create_map(
        *[F.lit(x) for kv in _MIX_TARGETS.items() for x in kv]
    )[F.col("lang")]
    u = F.expr(
        "CAST(conv(substring(md5(concat('mix:', CAST(doc_id AS STRING))), 1, 13), 16, 10) AS BIGINT)"
    )
    lhs = (
        u.cast("decimal(20,0)")
        * (F.lit(_MIX_DENOM).cast("decimal(20,0)") * F.col("n_l").cast("decimal(20,0)"))
    )
    rhs = (
        F.coalesce(target, F.lit(0)).cast("decimal(20,0)")
        * F.col("n_total").cast("decimal(20,0)")
        * F.lit(1 << 52).cast("decimal(20,0)")
    )
    kept = (
        d.join(F.broadcast(strata), "lang")
        .crossJoin(F.broadcast(tot))
        .withColumn("keep", (lhs < rhs).cast("long"))
    )
    return (
        kept.groupBy("lang")
        .agg(
            F.max("n_l").alias("n_docs"),
            F.sum("keep").alias("n_kept"),
        )
        .orderBy("lang")
    )


# Maximum repeat factor for the epoch plan: data-constrained scaling work
# (Muennighoff et al. 2023) finds up to ~4 epochs of reuse near-lossless,
# with rapidly diminishing returns beyond — so the plan's expected repeat
# count is quality-proportional on a [0, 4] scale.
_REPEAT_MAX = 4


def docs_repeat_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted epoch-repeat plan — turn a per-doc quality score
    into the explicit integer repeat factor a data-constrained training
    run materializes (high-quality docs seen up to ``_REPEAT_MAX`` times,
    junk approaches zero).  Expected repeats are quality-proportional,
    x = _REPEAT_MAX · q with q ∈ [0, 1] the shared text-quality composite
    (`quality_expr`), and the integer plan is n = ⌊x⌋ plus a Bernoulli
    top-up on the fractional part so Σn is an unbiased estimate of Σx.

    The top-up draw is the first 52 bits of md5('rep:' || doc_id) compared
    against frac(x)·2^52 — doc_id-keyed (retry/speculation-proof) and
    engine-portable, the docs_pps_sample discipline.  q is computed
    per-row from that row alone, so the whole op is a stateless projection:
    ZERO shuffles, ZERO aggregates — the cheapest possible plan shape at
    100 TB, and embarrassingly parallel at any executor count.
    """
    d = read_docs(spark, sf_dir).select("doc_id", "text", F.expr(TOKS).alias("arr"))
    x = F.lit(float(_REPEAT_MAX)) * quality_expr()
    u = F.expr(
        "CAST(conv(substring(md5(concat('rep:', CAST(doc_id AS STRING))), 1, 13), 16, 10) AS BIGINT)"
    )
    frac = x - F.floor(x)
    n_rep = (
        F.floor(x).cast("long")
        + (u.cast("double") < frac * F.lit(float(1 << 52))).cast("long")
    )
    # expected_repeats is emitted UNROUNDED: x is the same IEEE expression
    # in both engines (bit-identical), while round-to-4 lands on decimal
    # half-way boundaries (e.g. x = 3.31875) that Spark's HALF_UP on the
    # binary value and DuckDB's round resolve differently
    return d.select(
        "doc_id",
        x.alias("expected_repeats"),
        n_rep.alias("n_repeats"),
    )


def docs_repeat_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize :func:`docs_repeat_plan` into the physical training
    order a loader consumes: each doc explodes into its ``n_repeats``
    copies and every copy draws an INDEPENDENT deterministic rank key
    (md5 over doc_id#copy_idx), so a doc's repeats interleave through the
    whole epoch-spanning stream instead of clustering — the layout
    data-constrained training wants (repeat exposures spaced apart).

    Scale: the explode factor is bounded by ``_REPEAT_MAX``; the global
    rank is the docs_global_shuffle two-phase trick (rank within 256
    md5-prefix buckets + a broadcast 256-row offset table), so nothing
    funnels through a SinglePartition exchange.  Deterministic under
    retries end-to-end: the plan draw and the order draw are both keyed
    by (doc_id, copy_idx), never RNG state.
    """
    plan = docs_repeat_plan(spark, sf_dir).filter(F.col("n_repeats") > 0)
    copies = plan.select(
        "doc_id",
        "n_repeats",
        F.explode(F.expr("sequence(1, n_repeats)")).alias("copy_idx"),
    )
    key = F.md5(
        F.encode(
            F.concat(
                F.lit("ord:"),
                F.col("doc_id").cast("string"),
                F.lit("#"),
                F.col("copy_idx").cast("string"),
            ),
            "utf-8",
        )
    )
    return md5_shuffle_rank(copies, "copy_idx", "n_repeats", key=key).withColumnRenamed(
        "shuffle_rank", "train_rank"
    )


# Held-out fraction per source stratum for the train/val split.
_HOLDOUT_FRAC = 0.1


def docs_split_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT stratified train/val split: within every ``source`` stratum,
    rank docs by a doc_id-keyed md5 draw and hold out the lowest
    ⌈``_HOLDOUT_FRAC``·n_source⌉ as ``val`` — the held-out eval slice a
    curation pipeline must carve BEFORE any quality filtering touches the
    pool (filtering first would bias the eval set toward the filter).
    Exact per-stratum quotas, unlike a per-doc Bernoulli draw
    (docs_pps_sample's shape), and deterministic under retries: the draw
    is md5('hold:'||doc_id), never RNG state.

    Scale: the per-source rank is the docs_global_shuffle two-phase
    trick applied per stratum — rank within (source, 2-hex-draw-prefix)
    buckets plus a broadcast (source × 256)-row offset table — so no
    source ever funnels through a single reducer's sort; quotas join
    from a broadcast sources-row table."""
    d = read_docs(spark, sf_dir).select("doc_id", "source")
    keyed = d.withColumn(
        "draw", F.md5(F.concat(F.lit("hold:"), F.col("doc_id").cast("string")))
    ).withColumn("bkt", F.substring("draw", 1, 2))
    counts = keyed.groupBy("source", "bkt").agg(F.count("*").alias("n"))
    prior = (
        Window.partitionBy("source")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.withColumn(
        "off", F.coalesce(F.sum("n").over(prior), F.lit(0))
    ).select("source", "bkt", "off")
    quotas = (
        counts.groupBy("source")
        .agg(F.sum("n").alias("n_source"))
        .select(
            "source",
            F.ceil(F.lit(_HOLDOUT_FRAC) * F.col("n_source"))
            .cast("long")
            .alias("quota"),
        )
    )
    w = Window.partitionBy("source", "bkt").orderBy("draw", "doc_id")
    rank = (F.col("off") + F.col("r")).cast("long")
    return (
        keyed.withColumn("r", F.row_number().over(w))
        .join(F.broadcast(offsets), ["source", "bkt"])
        .join(F.broadcast(quotas), "source")
        .select(
            "doc_id",
            "source",
            rank.alias("holdout_rank"),
            F.when(rank <= F.col("quota"), F.lit("val"))
            .otherwise(F.lit("train"))
            .alias("split"),
        )
    )


# Quality bands for the curriculum rank's two-phase trick; q ∈ [0, 1], so
# floor(q·bands) is monotone in q and band-concatenated ranks equal the
# global quality order.  A knob: more bands = more parallel sort tasks.
_CURRICULUM_BANDS = 256


def docs_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum training order: rank every doc by the shared text-quality
    composite ASCENDING (easy/low-quality exposures first, hardest/best
    last — or read the rank backwards for anti-curriculum), ties broken
    by doc_id.  The complement of docs_repeat_order's interleaved random
    layout: same loader-facing contract (a dense 1..N ``train_rank``-style
    column), opposite ordering policy.

    Scale: the global quality sort never funnels — rank within
    ``_CURRICULUM_BANDS`` quality bands (floor(q·bands), monotone in q)
    plus a broadcast band-offset table, the docs_global_shuffle two-phase
    trick keyed by value bands instead of md5 prefixes."""
    d = read_docs(spark, sf_dir).select("doc_id", "text", F.expr(TOKS).alias("arr"))
    scored = d.select("doc_id", quality_expr().alias("q"))
    return quality_band_rank(scored).select(
        "doc_id",
        # UNROUNDED: bit-identical in both engines (the repeat-plan
        # lesson — rounding creates decimal-halfway disagreements)
        F.col("q").alias("quality"),
        "curriculum_rank",
    )


def quality_band_rank(
    scored: DataFrame, rank_name: str = "curriculum_rank"
) -> DataFrame:
    """(doc_id, q, <rank_name>) — dense 1..N rank ascending in (q, doc_id)
    via the banded two-phase trick; shared by :func:`docs_curriculum_order`
    and run_curate's ``--order curriculum``."""
    band = F.least(
        F.floor(F.col("q") * _CURRICULUM_BANDS).cast("int"),
        F.lit(_CURRICULUM_BANDS - 1),
    )
    keyed = scored.withColumn("band", band)
    counts = keyed.groupBy("band").agg(F.count("*").alias("n"))
    prior = Window.orderBy("band").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn(
        "off", F.coalesce(F.sum("n").over(prior), F.lit(0))
    ).select("band", "off")
    w = Window.partitionBy("band").orderBy("q", "doc_id")
    return (
        keyed.withColumn("r", F.row_number().over(w))
        .join(F.broadcast(offsets), "band")
        .select(
            "doc_id",
            "q",
            (F.col("off") + F.col("r")).cast("long").alias(rank_name),
        )
    )


# Whole-doc packing budget: bins hold ≤128 tokens; docs stay intact (the
# padding-free SFT/finetune layout), unlike docs_token_chunks which splits
# the concatenated stream at exact chunk boundaries (the pretraining
# layout).  16 shards bound the sequential scan each packer performs.
_PACK_TOKENS = 128
_PACK_SHARDS = 16


def docs_pack_bins(
    spark: SparkSession,
    sf_dir: str,
    shards: int = _PACK_SHARDS,
    budget: int = _PACK_TOKENS,
    split_oversize: bool = False,
) -> DataFrame:
    """Whole-document sequence packing (next-fit): docs are dealt into
    ``shards`` shards by an md5 draw, ordered deterministically within
    each shard, then greedily packed into bins of ≤``budget`` tokens
    WITHOUT splitting documents — a new bin opens when the next doc
    would overflow the current one; docs longer than the budget sit alone
    in an ``oversize`` bin.  Complements docs_token_chunks (which cuts the
    concatenated stream mid-document — right for pretraining, wrong when
    each example must stay contiguous).

    ``split_oversize=True`` is the layout that never emits an over-budget
    bin: a doc longer than the budget is chunked at token granularity
    into budget-sized pieces (last piece carries the remainder), pieces
    stay adjacent in order, and each row gains ``piece_idx``/``n_pieces``
    (piece_idx > 0 = continuation — the downstream loader's signal to
    mask the boundary).  The gate default stays False so the oracle's
    recursive next-fit matches row-for-row; the split mode's invariants
    (no bin over budget, pieces partition the doc) are pytest-pinned.

    Scale: next-fit is inherently sequential (each bin boundary depends on
    the running fill), so the parallel unit is the shard: one grouped-map
    applyInPandas per shard walks its docs once (one Arrow crossing, O(n)
    Python over row COUNTS only — never text).  ``shards`` is the
    parallelism knob — set it ≈ total cluster cores at production scale
    (the gate default stays 16 so the oracle recursion matches); the md5
    deal keeps shards uniform, so no packer straggles.  The tokenize
    itself stays JVM-side — only (doc_id, n_tok, order key) enter Python.
    """
    import pandas as pd

    d = read_docs(spark, sf_dir).select(
        "doc_id",
        F.size(F.expr(TOKS)).cast("long").alias("n_tok"),
        F.md5(F.concat(F.lit("pack:"), F.col("doc_id").cast("string"))).alias("k"),
    )
    d = d.withColumn(
        "shard",
        F.expr("CAST(conv(substring(k, 1, 13), 16, 10) AS BIGINT)") % shards,
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["k", "doc_id"], kind="mergesort").reset_index(drop=True)
        bin_idx, fill = 0, 0
        bins = []
        for n in pdf["n_tok"]:
            if bin_idx == 0 or fill + n > budget:
                bin_idx += 1
                fill = int(n)
            else:
                fill += int(n)
            bins.append(bin_idx)
        return pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "shard": pdf["shard"],
                "pos": range(1, len(pdf) + 1),
                "bin_idx": bins,
                "n_tok": pdf["n_tok"],
                "oversize": (pdf["n_tok"] > budget).astype("int32"),
            }
        )

    def pack_split(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["k", "doc_id"], kind="mergesort").reset_index(drop=True)
        # explode over-budget docs into budget-sized pieces (counts only —
        # the actual token slicing is the loader's positional arithmetic)
        items = []  # (doc_id, shard, piece_idx, n_pieces, n)
        for did, sh, n in zip(pdf["doc_id"], pdf["shard"], pdf["n_tok"]):
            n = int(n)
            if n > budget:
                q, r = divmod(n, budget)
                sizes = [budget] * q + ([r] if r else [])
                for pi, s in enumerate(sizes):
                    items.append((did, sh, pi, len(sizes), s))
            else:
                items.append((did, sh, 0, 1, n))
        bin_idx, fill = 0, 0
        bins = []
        for _, _, _, _, n in items:
            if bin_idx == 0 or fill + n > budget:
                bin_idx += 1
                fill = n
            else:
                fill += n
            bins.append(bin_idx)
        return pd.DataFrame(
            {
                "doc_id": [i[0] for i in items],
                "shard": [i[1] for i in items],
                "pos": range(1, len(items) + 1),
                "bin_idx": bins,
                "n_tok": [i[4] for i in items],
                "piece_idx": [i[2] for i in items],
                "n_pieces": [i[3] for i in items],
            }
        )

    if split_oversize:
        schema = (
            "doc_id long, shard long, pos long, bin_idx long, n_tok long, "
            "piece_idx int, n_pieces int"
        )
        return d.groupBy("shard").applyInPandas(pack_split, schema=schema)
    schema = (
        "doc_id long, shard long, pos long, bin_idx long, n_tok long, oversize int"
    )
    return d.groupBy("shard").applyInPandas(pack, schema=schema)


# Quality-weighted repeat-plan CTE chain (rbase → rscored → rplan), shared
# by the docs_repeat_plan and docs_repeat_order oracles.  A bare CTE list
# ending in `rplan`; callers prepend WITH and append their own CTEs.
_SQL_REPEAT_CTES = f"""rbase AS (
            SELECT doc_id, text, {SQL_TOKS} AS arr FROM documents
        ), rscored AS (
            -- x = _REPEAT_MAX * q with q parenthesized so the IEEE multiply
            -- order matches Spark's 4.0 * ((A*B)*C) exactly
            SELECT doc_id,
                   {float(_REPEAT_MAX)} * (
                       {SQL_QEXPR}
                   ) AS x,
                   CAST(concat('0x', substr(md5('rep:' || CAST(doc_id AS VARCHAR)), 1, 13))
                        AS BIGINT) AS u
            FROM rbase
        ), rplan AS (
            SELECT doc_id, x,
                   CAST(floor(x) AS BIGINT)
                   + CAST(CAST(u AS DOUBLE) < (x - floor(x)) * {float(1 << 52)} AS BIGINT)
                   AS n_repeats
            FROM rscored
        )"""


ORACLES: dict[str, str] = {
    "docs_global_shuffle": """
        SELECT doc_id,
               md5('seed42:' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
               row_number() OVER (ORDER BY md5('seed42:' || CAST(doc_id AS VARCHAR)), doc_id)
                   AS shuffle_rank
        FROM documents
    """,
    "docs_pps_sample": f"""
        WITH tot AS (
            SELECT sum(n_chars) AS w_total FROM documents
        ), drawn AS (
            SELECT doc_id, n_chars,
                   CAST(concat('0x', substr(md5('pps:' || CAST(doc_id AS VARCHAR)), 1, 13))
                        AS BIGINT) AS u
            FROM documents
        )
        SELECT doc_id, n_chars AS weight
        FROM drawn CROSS JOIN tot
        WHERE CAST(u AS HUGEINT) * w_total
              < CAST({_PPS_TARGET} AS HUGEINT) * {1 << 52} * n_chars
    """,
    "docs_token_chunks": f"""
        WITH toks AS (
            SELECT doc_id,
                   CAST(len({SQL_TOKS}) AS BIGINT) AS n_tok,
                   md5('seed42:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
            FROM documents
        ), ordered AS (
            SELECT doc_id, n_tok,
                   row_number() OVER (ORDER BY shuffle_key, doc_id) AS shuffle_rank,
                   CAST(COALESCE(SUM(n_tok) OVER (
                            ORDER BY shuffle_key, doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                        AS BIGINT) AS tok_start
            FROM toks
        )
        SELECT doc_id, shuffle_rank, n_tok, tok_start,
               tok_start + n_tok AS tok_end,
               tok_start // {_CHUNK_TOKENS} AS chunk_first,
               greatest(tok_start + n_tok - 1, tok_start) // {_CHUNK_TOKENS} AS chunk_last,
               greatest(tok_start + n_tok - 1, tok_start) // {_CHUNK_TOKENS}
                   - tok_start // {_CHUNK_TOKENS} + 1 AS n_chunks_spanned
        FROM ordered
    """,
    "docs_mix_rebalance": f"""
        WITH strata AS (
            SELECT lang, count(*) AS n_l FROM documents GROUP BY lang
        ), tot AS (
            SELECT count(*) AS n_total FROM documents
        ), targets(lang, t_num) AS (
            VALUES {", ".join("('%s', %d)" % kv for kv in sorted(_MIX_TARGETS.items()))}
        ), drawn AS (
            SELECT d.doc_id, d.lang, s.n_l, tot.n_total,
                   COALESCE(t.t_num, 0) AS t_num,
                   CAST(concat('0x', substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 13))
                        AS BIGINT) AS u
            FROM documents d
            JOIN strata s USING (lang)
            LEFT JOIN targets t USING (lang)
            CROSS JOIN tot
        )
        SELECT lang,
               CAST(max(n_l) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN CAST(u AS HUGEINT) * {_MIX_DENOM} * n_l
                                  < CAST(t_num AS HUGEINT) * n_total * {1 << 52}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        FROM drawn GROUP BY lang ORDER BY lang
    """,
    "docs_repeat_plan": f"""
        WITH {_SQL_REPEAT_CTES}
        SELECT doc_id, x AS expected_repeats, n_repeats FROM rplan
    """,
    "docs_repeat_order": f"""
        WITH {_SQL_REPEAT_CTES},
        rcopies AS (
            SELECT doc_id, n_repeats,
                   unnest(range(1, n_repeats + 1)) AS copy_idx
            FROM rplan WHERE n_repeats > 0
        ), rkeyed AS (
            SELECT doc_id, CAST(copy_idx AS BIGINT) AS copy_idx, n_repeats,
                   md5('ord:' || CAST(doc_id AS VARCHAR) || '#' || CAST(copy_idx AS VARCHAR)) AS shuffle_key
            FROM rcopies
        )
        SELECT doc_id, copy_idx, n_repeats, shuffle_key,
               row_number() OVER (ORDER BY shuffle_key, doc_id, copy_idx) AS train_rank
        FROM rkeyed
    """,
    "docs_split_holdout": f"""
        WITH hdraw AS (
            SELECT doc_id, source,
                   md5('hold:' || CAST(doc_id AS VARCHAR)) AS draw
            FROM documents
        ), hrank AS (
            SELECT doc_id, source,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY draw, doc_id) AS holdout_rank,
                   count(*) OVER (PARTITION BY source) AS n_source
            FROM hdraw
        )
        SELECT doc_id, source, holdout_rank,
               CASE WHEN holdout_rank
                         <= CAST(ceil({_HOLDOUT_FRAC} * n_source) AS BIGINT)
                    THEN 'val' ELSE 'train' END AS split
        FROM hrank
    """,
    "docs_curriculum_order": f"""
        WITH cbase AS (
            SELECT doc_id, text, {SQL_TOKS} AS arr FROM documents
        ), cscored AS (
            SELECT doc_id, ({SQL_QEXPR}) AS q FROM cbase
        )
        SELECT doc_id, q AS quality,
               row_number() OVER (ORDER BY q, doc_id) AS curriculum_rank
        FROM cscored
    """,
    "docs_pack_bins": f"""
        WITH RECURSIVE toks AS (
            SELECT doc_id,
                   CAST(len({SQL_TOKS}) AS BIGINT) AS n_tok,
                   md5('pack:' || CAST(doc_id AS VARCHAR)) AS k
            FROM documents
        ), sharded AS (
            SELECT doc_id, n_tok, k,
                   CAST(concat('0x', substr(k, 1, 13)) AS BIGINT) % {_PACK_SHARDS} AS shard
            FROM toks
        ), ordered AS (
            SELECT doc_id, n_tok, shard,
                   CAST(row_number() OVER (PARTITION BY shard ORDER BY k, doc_id)
                        AS BIGINT) AS pos
            FROM sharded
        ), packed(shard, pos, doc_id, n_tok, bin_idx, fill) AS (
            SELECT shard, pos, doc_id, n_tok, CAST(1 AS BIGINT), n_tok
            FROM ordered WHERE pos = 1
            UNION ALL
            SELECT o.shard, o.pos, o.doc_id, o.n_tok,
                   CASE WHEN p.fill + o.n_tok > {_PACK_TOKENS}
                        THEN p.bin_idx + 1 ELSE p.bin_idx END,
                   CASE WHEN p.fill + o.n_tok > {_PACK_TOKENS}
                        THEN o.n_tok ELSE p.fill + o.n_tok END
            FROM packed p JOIN ordered o ON o.shard = p.shard AND o.pos = p.pos + 1
        )
        SELECT doc_id, shard, pos, bin_idx, n_tok,
               CASE WHEN n_tok > {_PACK_TOKENS} THEN 1 ELSE 0 END AS oversize
        FROM packed
    """,
}

QUERIES = {
    "docs_global_shuffle": docs_global_shuffle,
    "docs_pps_sample": docs_pps_sample,
    "docs_token_chunks": docs_token_chunks,
    "docs_mix_rebalance": docs_mix_rebalance,
    "docs_repeat_plan": docs_repeat_plan,
    "docs_repeat_order": docs_repeat_order,
    "docs_split_holdout": docs_split_holdout,
    "docs_curriculum_order": docs_curriculum_order,
    "docs_pack_bins": docs_pack_bins,
}
