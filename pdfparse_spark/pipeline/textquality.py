"""Text quality, language-model and tokenizer-training operators over
the ``documents`` table: language ID, the shared quality composite,
token counts, fingerprints, PII redaction, length profiles, Gopher
repetition filters, CCNet-style unigram/bigram perplexity terciles,
tf-idf term statistics, and BPE pair counts, training and encoding.

Each public ``(spark, sf_dir)`` op has its DuckDB oracle in ``ORACLES``
(same column names, same rounding) unless it is iterative or a sketch
(BPE apply/training, approx percentiles), which pytest pins instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .corpus import SQL_TOKS, TOKS, read_docs

_LANG_MARKERS = {
    "en": ["the", "a", "and", "of", "to"],
    "de": ["der", "die", "und", "das", "ein"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "los", "las", "una", "y"],
}


def _marker_count(lang: str) -> str:
    words = ", ".join("'%s'" % w for w in _LANG_MARKERS[lang])
    return "size(filter(arr, w -> w IN (%s)))" % words


def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram-heuristic language ID via stopword-marker counts (argmax with
    fixed priority en>de>fr>es; 'unknown' when no marker hits)."""
    d = read_docs(spark, sf_dir).select("doc_id", F.expr(TOKS).alias("arr"))
    d = d.select(
        "doc_id",
        *[F.expr(_marker_count(lang)).alias("%s_hits" % lang) for lang in _LANG_MARKERS],
    )
    return d.withColumn(
        "lang_guess",
        F.expr(
            "CASE WHEN en_hits = 0 AND de_hits = 0 AND fr_hits = 0 AND es_hits = 0 THEN 'unknown' "
            "WHEN en_hits >= de_hits AND en_hits >= fr_hits AND en_hits >= es_hits THEN 'en' "
            "WHEN de_hits >= fr_hits AND de_hits >= es_hits THEN 'de' "
            "WHEN fr_hits >= es_hits THEN 'fr' ELSE 'es' END"
        ),
    )


def _quality_ratios():
    """(stopword ratio, alpha ratio) over (text, arr) columns, UNROUNDED."""
    stop = F.expr(
        "size(filter(arr, w -> w IN ('the','a','and','of','to','in','is')))"
    ) / F.greatest(F.size("arr"), F.lit(1))
    alpha = F.length(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z]", "")
    ) / F.greatest(F.length("text"), F.lit(1))
    return stop, alpha


def quality_expr():
    """The UNROUNDED text-quality composite over (text, arr) columns — the
    single definition shared by text_quality (rounded, reported) and both
    keep-best ranking paths, so a weight change cannot desynchronize the
    dedup decision from the reported score."""
    stop, alpha = _quality_ratios()
    return (
        F.least(F.size("arr") / F.lit(64.0), F.lit(1.0))
        * (0.5 + 0.5 * alpha)
        * (1.0 - 0.5 * stop)
    )


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: token count, stopword ratio, alpha ratio → composite."""
    d = read_docs(spark, sf_dir).select("doc_id", "text", F.expr(TOKS).alias("arr"))
    # quality is computed from the UNROUNDED ratios: feeding rounded inputs
    # into the product creates exact .00005 boundaries where Spark and
    # DuckDB round() can disagree by 1 ulp (seen at sf0.1)
    stop_raw, alpha_raw = _quality_ratios()
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars_m"),
        F.size("arr").alias("n_tokens"),
        F.round(stop_raw, 4).alias("stopword_ratio"),
        F.round(alpha_raw, 4).alias("alpha_ratio"),
        F.round(quality_expr(), 4).alias("quality_score"),
    )


def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish regex token count."""
    d = read_docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.expr("size(filter(split(text, '\\\\s+'), w -> w != ''))").alias("ws_tokens"),
        F.expr("regexp_count(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\\\s]')").alias("bpe_tokens"),
    )


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: sha256 over the sorted distinct token set —
    catches word-order/duplication-insensitive duplicates in one agg pass."""
    d = read_docs(spark, sf_dir).select("doc_id", F.expr(TOKS).alias("arr"))
    return d.select(
        "doc_id",
        F.sha2(F.concat_ws(" ", F.array_sort(F.array_distinct(F.col("arr")))), 256).alias("fingerprint"),
    )


# PII patterns shared by the Spark op and the DuckDB oracle — restricted to
# syntax both Java regex and RE2 support identically (no lookaround, no
# backrefs).  Emails are redacted BEFORE urls so `user@host` inside a URL
# query-string can't be double-counted.
_EMAIL_RE = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
_URL_RE = "https?://[^\\s]+"


def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: count + redact emails and URLs with typed placeholders.

    The documents vocab carries no PII, so each row is augmented with a
    deterministic contact tail built from doc_id (identically in the oracle)
    — the op under test is the redaction itself.  Scale: pure JVM-side
    regexp over one column, whole-stage-codegen'd, no shuffle at all.
    """
    d = read_docs(spark, sf_dir)
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id"),
        F.lit("@mail.example.com or https://ex.org/d/"),
        F.col("doc_id"),
        F.lit("?ref=corpus"),
    )
    d = d.select("doc_id", raw.alias("raw"))
    return d.select(
        "doc_id",
        F.expr("regexp_count(raw, '%s')" % _EMAIL_RE).alias("n_emails"),
        F.expr("regexp_count(raw, '%s')" % _URL_RE).alias("n_urls"),
        F.regexp_replace(
            F.regexp_replace(F.col("raw"), _EMAIL_RE, "<EMAIL>"), _URL_RE, "<URL>"
        ).alias("redacted"),
    )


def text_length_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus length profile with EXACT percentiles.

    Scale note: `percentile` is exact (sorts per group) — fine when the
    group count is tiny (languages) and rows-per-group are millions; for
    high-cardinality groups at 100 TB switch to approx_percentile, which is
    a sketch merge.  The oracle (quantile_cont) pins the exact variant.
    """
    d = read_docs(spark, sf_dir)
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        F.round(F.expr("percentile(n_chars, 0.5)"), 2).alias("p50_chars"),
        F.round(F.expr("percentile(n_chars, 0.9)"), 2).alias("p90_chars"),
        F.max("n_chars").alias("max_chars"),
    )


def text_gopher_quality(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """Gopher/C4-style repetition filters: top-unigram mass fraction and
    duplicate-trigram occurrence fraction, plus the pass/fail decision a
    training pipeline actually applies.

    Scale: one explode + two hash aggregates keyed by (doc_id, gram) with
    map-side combine — the gram key includes doc_id, so hot vocabulary never
    concentrates on one reducer; everything JVM-side, no UDFs.

    ``docs`` optionally supplies an already-tokenized (doc_id, ..., arr)
    frame (corpus_curate's shared checkpoint) so a composed pipeline
    tokenizes the corpus exactly once across all its legs.
    """
    if docs is None:
        docs = read_docs(spark, sf_dir).select("doc_id", F.expr(TOKS).alias("arr"))
        # eager localCheckpoint: three consumers (base, uni, tri) sit BELOW
        # any exchange, so AQE reuse can't help and each branch would re-run
        # the regex tokenize over the corpus — 3x the single most expensive
        # expression in the plan.  Checkpointing the skinny (doc_id, arr,
        # n_tokens) frame tokenizes ONCE; values are unchanged (oracle-green).
        docs = docs.localCheckpoint(eager=True)
    base = docs.select("doc_id", "arr", F.size("arr").alias("n_tokens"))
    uni = (
        base.select("doc_id", F.explode("arr").alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_uni"))
    )
    # trigrams WITH multiplicity (repetition is the signal — no distinct)
    tri_expr = (
        "CASE WHEN size(arr) >= 3 THEN transform(sequence(1, size(arr) - 2), "
        "i -> concat_ws(' ', element_at(arr, i), element_at(arr, i + 1), element_at(arr, i + 2))) "
        "ELSE array() END"
    )
    tri = (
        base.select("doc_id", F.explode(F.expr(tri_expr)).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.sum("c").alias("n_tri"), F.count("*").alias("n_tri_distinct"))
    )
    out = (
        base.select("doc_id", "n_tokens")
        .join(uni, "doc_id", "left")
        .join(tri, "doc_id", "left")
        .fillna(0, ["top_uni", "n_tri", "n_tri_distinct"])
    )
    top_frac = F.col("top_uni") / F.greatest(F.col("n_tokens"), F.lit(1))
    dup_frac = F.when(
        F.col("n_tri") > 0, 1.0 - F.col("n_tri_distinct") / F.col("n_tri")
    ).otherwise(F.lit(0.0))
    return out.select(
        "doc_id",
        "n_tokens",
        F.round(top_frac, 4).alias("top_unigram_frac"),
        F.round(dup_frac, 4).alias("dup_trigram_frac"),
        (
            (F.col("n_tokens") >= 8)
            & (top_frac <= 0.2)
            & (dup_frac <= 0.3)
        ).cast("int").alias("gopher_pass"),
    )


_PPL_THRESHOLD = 7.0  # nats/token; corpus-tuned in production


def text_perplexity(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """CCNet-style LM quality filter (Wenzek et al. 2020): score every
    document by the mean negative log-probability of its tokens under an
    add-one-smoothed unigram LM trained on the corpus itself, and flag
    keeps under a perplexity threshold.  (CCNet uses a KenLM 5-gram; the
    unigram variant keeps the engine-side plan identical — swap the
    probability table, nothing else changes.)

    Scale: two (key-grouped, map-side-combined) hash aggregates — (doc, w)
    term counts and the corpus vocabulary — then a w-keyed equality join
    over DISTINCT (doc, w) pairs (never the raw token stream, so a
    stopword repeated 10^4 times in one doc is ONE join row) and a one-row
    broadcast of (N, V).  No UDFs, no driver loops; the LM 'training' is
    the vocab aggregate itself.

    Parity: p(w) = (c_w + 1) / (N + V) is an exact-integer ratio evaluated
    in one double division — bit-identical across engines — so ln() sees
    identical doubles (the proven embed_quality_score exp() pattern);
    the per-doc mean is rounded to 4 decimals (double-sum order drift
    ~1e-12 against a 5e-5 rounding margin); ``lm_keep`` decides on the
    unrounded mean's comparison, as embed_quality_score does.

    ``docs`` optionally supplies an already-tokenized (doc_id, ..., arr)
    frame (corpus_curate_full's shared checkpoint) — the exploded token
    rows are identical either way."""
    if docs is None:
        d = read_docs(spark, sf_dir).select(
            "doc_id", F.explode(F.expr(TOKS)).alias("w")
        )
    else:
        d = docs.select("doc_id", F.explode("arr").alias("w"))
    dw = d.groupBy("doc_id", "w").agg(F.count("*").alias("c"))
    # vocab from the aggregated (doc, w) pairs, NOT from d: re-exploding
    # the corpus would run the tokenize+explode scan twice (two
    # differently-keyed aggregates can't share an exchange); sum(c) over
    # distinct pairs is the identical integer count
    vocab = dw.groupBy("w").agg(F.sum("c").alias("cw"))
    tot = vocab.agg(
        F.sum("cw").alias("n_total"), F.count("*").alias("v_size")
    )
    j = dw.join(vocab, "w").crossJoin(F.broadcast(tot))
    ll = -F.log(
        (F.col("cw") + 1).cast("double")
        / (F.col("n_total") + F.col("v_size")).cast("double")
    )
    per_doc = j.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        (F.sum(F.col("c") * ll) / F.sum("c")).alias("avg"),
    )
    scored = per_doc.select(
        "doc_id",
        "n_tokens",
        F.round("avg", 4).alias("avg_logloss"),
        (F.col("avg") <= _PPL_THRESHOLD).cast("int").alias("lm_keep"),
    )
    return _ppl_terciles(scored)


def lm_keep_ids(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """(doc_id) of every doc outside the worst perplexity tercile — the LM
    leg of the curation composition (corpus_curate_full and its
    successors, run_curate ``--lm-filter``)."""
    return (
        text_perplexity(spark, sf_dir, docs=docs)
        .filter(F.col("ppl_bucket") != "tail")
        .select("doc_id")
    )


def _ppl_terciles(scored: DataFrame) -> DataFrame:
    """Append ``ppl_bucket`` (head/middle/tail) to a scored frame with a
    ROUNDED ``avg_logloss`` column — CCNet's actual selection mechanism,
    shared by both perplexity ops.  NOT a global ntile (that is a
    SinglePartition sort of the whole corpus): the two tercile cutoffs
    are a one-row agg broadcast back, so assignment is embarrassingly
    parallel.  Cutoffs come from the ROUNDED score (bit-identical across
    engines; the unrounded double's ~1e-12 summation drift could flip a
    doc sitting exactly on a cutoff), and are themselves rounded to the
    score's 4-decimal grid: the engines' percentile() ↔ quantile_cont()
    interpolations differ in the last ulp, and a doc whose rounded score
    EQUALS a cutoff would otherwise flip buckets (caught at sf0.1: 37 docs
    sat exactly on the bigram terciles)."""
    cuts = scored.agg(
        F.round(F.expr("percentile(avg_logloss, 1.0D / 3)"), 4).alias("p33"),
        F.round(F.expr("percentile(avg_logloss, 2.0D / 3)"), 4).alias("p66"),
    )
    return scored.crossJoin(F.broadcast(cuts)).select(
        *scored.columns,
        F.when(F.col("avg_logloss") <= F.col("p33"), "head")
        .when(F.col("avg_logloss") <= F.col("p66"), "middle")
        .otherwise("tail")
        .alias("ppl_bucket"),
    )


def text_perplexity_bigram(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """text_perplexity's n-gram extension (the CCNet direction — their
    KenLM is a 5-gram; the bigram shows the plan generalizes): score
    every document by the mean negative log-probability of its BIGRAMS
    under an add-one-smoothed conditional LM trained on the corpus
    itself, p(w2|w1) = (c(w1,w2) + 1) / (c(w1·) + V), with V the corpus
    unigram vocabulary size.  Documents with fewer than 2 tokens have no
    bigrams and are excluded (they carry no conditional signal).

    Scale: identical shape to the unigram op, one key wider — a
    (doc, w1, w2)-grouped hash aggregate (map-side combined; the doc_id
    in the key spreads hot collocations), the corpus bigram LM derived
    from that aggregate (never a re-explode), a (w1, w2)-keyed equality
    join over DISTINCT per-doc bigrams, context counts c(w1·) as a
    second aggregation OF THE LM (vocabulary-sized, not corpus-sized),
    and a one-row broadcast of V.  Terciles via broadcast percentile
    cutoffs, never a global sort.

    Parity: p is an exact-integer ratio evaluated in one double
    division — bit-identical across engines — so ln() sees identical
    doubles; the weighted mean is rounded to 4 decimals and the tercile
    cutoffs come from the ROUNDED score (the proven text_perplexity
    pattern)."""
    if docs is None:
        # tokenize ONCE: the bigram explode and the vocab leg both consume
        # arr, and the regex tokenize is the most expensive expression in
        # this module — without the checkpoint it re-runs per consumer
        # (the text_gopher_quality docs-None discipline)
        base = (
            read_docs(spark, sf_dir)
            .select("doc_id", F.expr(TOKS).alias("arr"))
            .localCheckpoint(eager=True)
        )
    else:
        base = docs.select("doc_id", "arr")
    bg_expr = (
        "CASE WHEN size(arr) >= 2 THEN transform(sequence(1, size(arr) - 1), "
        "i -> struct(element_at(arr, i) AS w1, element_at(arr, i + 1) AS w2)) "
        "ELSE array() END"
    )
    bg = base.select("doc_id", F.explode(F.expr(bg_expr)).alias("p"))
    dbg = bg.groupBy(
        "doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    ).agg(F.count("*").alias("c"))
    # the LM from the aggregated per-doc counts, NOT a re-explode
    cbg = dbg.groupBy("w1", "w2").agg(F.sum("c").alias("c12"))
    c1 = cbg.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vtot = base.select(F.explode("arr").alias("w")).agg(
        F.countDistinct("w").alias("v_size")
    )
    j = (
        dbg.join(cbg, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(vtot))
    )
    ll = -F.log(
        (F.col("c12") + 1).cast("double")
        / (F.col("c1") + F.col("v_size")).cast("double")
    )
    per_doc = j.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"),
        (F.sum(F.col("c") * ll) / F.sum("c")).alias("avg"),
    )
    scored = per_doc.select(
        "doc_id", "n_bigrams", F.round("avg", 4).alias("avg_logloss")
    )
    return _ppl_terciles(scored)


# perplexity CTE fragment, ppl_-prefixed so it composes into larger oracle
# chains (corpus_curate_full) without CTE-name collisions
SQL_PPL_CTES = f"""
        ppl_toks AS (SELECT doc_id, unnest({SQL_TOKS}) AS w FROM documents),
        ppl_dw AS (SELECT doc_id, w, count(*) AS c FROM ppl_toks GROUP BY doc_id, w),
        ppl_vocab AS (SELECT w, count(*) AS cw FROM ppl_toks GROUP BY w),
        ppl_tot AS (SELECT CAST(sum(cw) AS BIGINT) AS n_total, count(*) AS v_size FROM ppl_vocab),
        ppl_j AS (
            SELECT ppl_dw.doc_id, ppl_dw.c,
                   -ln(CAST(ppl_vocab.cw + 1 AS DOUBLE)
                       / CAST(ppl_tot.n_total + ppl_tot.v_size AS DOUBLE)) AS ll
            FROM ppl_dw JOIN ppl_vocab USING (w), ppl_tot
        ),
        ppl_scored AS (
            SELECT doc_id,
                   CAST(sum(c) AS BIGINT) AS n_tokens,
                   round(sum(c * ll) / sum(c), 4) AS avg_logloss,
                   CAST(sum(c * ll) / sum(c) <= {_PPL_THRESHOLD} AS INT) AS lm_keep
            FROM ppl_j GROUP BY doc_id
        ),
        ppl_cuts AS (
            SELECT round(quantile_cont(avg_logloss, 1.0 / 3), 4) AS p33,
                   round(quantile_cont(avg_logloss, 2.0 / 3), 4) AS p66
            FROM ppl_scored
        )
"""

_BPE_TOPK = 32


def text_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-training corpus statistics: adjacent character-pair
    frequencies weighted by word frequency — the exact counts a BPE
    trainer's first merge step ranks (Sennrich et al. 2016, the
    vocabulary-driven formulation every fast trainer uses).

    Scale: stage 1 hash-aggregates the token stream into a (word, wc)
    vocabulary — the only corpus-sized shuffle, with map-side combine
    and a vocabulary-sized output; stage 2 explodes character pairs of
    the DISTINCT vocabulary only (|vocab| << corpus tokens at any
    corpus size — Heaps' law), so per-word pair extraction never touches
    duplicate words.  Pairs carry in-word multiplicity ('aaa' yields
    'aa' twice).  Top-32 merge candidates under the total
    (freq desc, pair asc) order."""
    d = read_docs(spark, sf_dir).select(F.explode(F.expr(TOKS)).alias("w"))
    vocab = d.groupBy("w").agg(F.count("*").alias("wc"))
    pairs = vocab.filter(F.length("w") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"
            )
        ).alias("pair"),
        "wc",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wc").cast("bigint").alias("freq"))
        .orderBy(F.col("freq").desc(), "pair")
        .limit(_BPE_TOPK)
        .select("pair", "freq")
    )


def _bpe_apply_len(word: str, ranks: dict[tuple[str, str], int]) -> int:
    """Greedy rank-ordered BPE apply (the classic algorithm): start from
    characters, repeatedly merge the adjacent pair with the best (lowest)
    rank until no ranked pair remains; return the subword count.  Ranks
    key on the (left, right) TOKEN PAIR — concatenation keys would be
    ambiguous once trained merges produce multi-char tokens
    (('h','ug') and ('hu','g') both concatenate to 'hug')."""
    toks = list(word)
    while len(toks) > 1:
        best = None
        bi = -1
        for i in range(len(toks) - 1):
            r = ranks.get((toks[i], toks[i + 1]))
            if r is not None and (best is None or r < best):
                best, bi = r, i
        if best is None:
            break
        toks[bi : bi + 2] = [toks[bi] + toks[bi + 1]]
    return len(toks)


def _bpe_encode_with(spark: SparkSession, sf_dir: str, ranks: dict) -> DataFrame:
    """Shared encode body for the first-order and trained BPE apply ops:
    the greedy merge loop runs over the DISTINCT vocabulary only (one
    vocab-sized Arrow crossing), then a w-keyed join back to the
    (doc, w, c) counts and a doc-keyed agg — the corpus token stream
    never enters Python."""
    def _encode(batches):
        import pandas as pd

        for pdf in batches:
            ws = pdf["w"]
            yield pd.DataFrame(
                {"w": ws, "n_sub": [_bpe_apply_len(w, ranks) for w in ws]}
            )

    d = read_docs(spark, sf_dir).select("doc_id", F.explode(F.expr(TOKS)).alias("w"))
    dw = d.groupBy("doc_id", "w").agg(F.count("*").alias("c"))
    vocab = dw.select("w").distinct()
    encoded = vocab.mapInPandas(_encode, schema="w string, n_sub int")
    per_doc = (
        dw.join(encoded, "w")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_words"),
            F.sum(F.col("c") * F.length("w")).alias("n_chars"),
            F.sum(F.col("c") * F.col("n_sub")).alias("n_bpe_tokens"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_words",
        "n_chars",
        "n_bpe_tokens",
        F.round(F.col("n_chars") / F.col("n_bpe_tokens"), 4).alias("chars_per_token"),
    )


def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLY step (pairs with text_bpe_pairs' training counts):
    encode every document with a greedy BPE merge table and report
    per-doc subword statistics.  The merge table here is the corpus'
    top-32 character-pair merges (first-order); text_bpe_encode_trained
    below is the production composition, driving the SAME encode body
    with train_bpe_merges' iteratively retrained table.

    Scale: the expensive per-word merge loop runs over the DISTINCT
    vocabulary only — one vocab-sized Arrow crossing (|vocab| << corpus
    tokens, Heaps' law), exactly the content-addressing trick the
    extraction dedup path uses at payload level — then a w-keyed join
    against the (doc, w, c) counts and a doc-keyed agg.  The corpus
    token stream itself never crosses into Python.

    Rows-only (greedy iterative merging is not SQL-expressible); pinned
    by a hand-computed pytest plus the invariant n_chars - n_bpe_tokens
    == total merges applied."""
    ranks = {
        (r["pair"][0], r["pair"][1]): i
        for i, r in enumerate(text_bpe_pairs(spark, sf_dir).collect())
    }
    return _bpe_encode_with(spark, sf_dir, ranks)


_BPE_TRAIN_MERGES = 8


def _bpe_merge_once_expr(a: str, b: str):
    """Apply the single merge (a, b) → ab to a ``seg`` token array,
    left-to-right and non-overlapping (a freshly merged token does not
    re-participate in this round), as one pure fold — no UDF.  The ''
    sentinel is safe: tokens come from [a-z0-9]+ words, never empty."""
    init = F.struct(
        F.array().cast("array<string>").alias("out"), F.lit("").alias("pend")
    )
    flush = lambda acc: F.when(  # noqa: E731 — local fold helper
        acc["pend"] == "", acc["out"]
    ).otherwise(F.concat(acc["out"], F.array(acc["pend"])))
    step = lambda acc, t: F.when(  # noqa: E731
        (acc["pend"] == F.lit(a)) & (t == F.lit(b)),
        F.struct(
            F.concat(acc["out"], F.array(F.lit(a + b))).alias("out"),
            F.lit("").alias("pend"),
        ),
    ).otherwise(F.struct(flush(acc).alias("out"), t.alias("pend")))
    return F.aggregate(F.col("seg"), init, step, flush)


_BPE_DRIVER_VOCAB_CAP = 2_000_000  # distinct multi-char words; ~100s of MB


def _bpe_merge_word(toks: list[str], a: str, b: str) -> list[str]:
    """Apply one merge (a, b) → ab left-to-right, non-overlapping — the
    driver-side twin of _bpe_merge_once_expr's fold (a freshly merged
    token never re-participates in the same round)."""
    out: list[str] = []
    i = 0
    n = len(toks)
    while i < n:
        if i + 1 < n and toks[i] == a and toks[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(toks[i])
            i += 1
    return out


def _train_bpe_merges_driver(
    vocab: list[tuple[str, int]], n_merges: int
) -> list[tuple[int, str, str, int]]:
    """In-memory Sennrich trainer over a COLLECTED (word, wc) vocabulary
    with incremental pair-count maintenance: each merge touches only the
    words that contain the winning pair, so 32k–64k production merge
    rounds cost milliseconds each instead of two Spark jobs each — the
    latency floor no cluster size fixes.  Tie-break (freq desc, left asc,
    right asc) and the non-overlapping merge application are pinned equal
    to the distributed path by pytest (tokens are ASCII [a-z0-9]+, where
    Python code-point order == Spark's UTF-8 binary string order)."""
    from collections import defaultdict

    segs: dict[int, list[str]] = {}
    wcs: dict[int, int] = {}
    counts: dict[tuple[str, str], int] = defaultdict(int)
    where: dict[tuple[str, str], set[int]] = defaultdict(set)
    for i, (w, wc) in enumerate(vocab):
        toks = list(w)
        if len(toks) < 2:
            continue
        segs[i] = toks
        wcs[i] = wc
        for p in zip(toks, toks[1:]):
            counts[p] += wc
            where[p].add(i)
    merges: list[tuple[int, str, str, int]] = []
    for rnd in range(n_merges):
        if not counts:
            break
        best = min(counts, key=lambda p: (-counts[p], p[0], p[1]))
        a, b = best
        merges.append((rnd + 1, a, b, counts[best]))
        # re-segment ONLY the words that contain the winning pair;
        # `where` entries may be stale (word re-segmented since), in
        # which case subtract-then-re-add is a harmless no-op
        for i in list(where[best]):
            toks = segs.get(i)
            if toks is None:
                continue
            wc = wcs[i]
            for p in zip(toks, toks[1:]):
                counts[p] -= wc
                if counts[p] <= 0:
                    counts.pop(p)
            new = _bpe_merge_word(toks, a, b)
            if len(new) < 2:  # fully merged — can never pair again
                del segs[i], wcs[i]
            else:
                segs[i] = new
                for p in zip(new, new[1:]):
                    counts[p] += wc
                    where[p].add(i)
        where.pop(best, None)
    return merges


def train_bpe_merges(
    spark: SparkSession,
    sf_dir: str,
    n_merges: int = _BPE_TRAIN_MERGES,
    driver_vocab_cap: int | None = _BPE_DRIVER_VOCAB_CAP,
) -> DataFrame:
    """FULL iterative BPE training (Sennrich et al. 2016), not just the
    first-round counts: each round re-counts weighted adjacent-pair
    frequencies over the CURRENT segmentation of the distinct vocabulary,
    takes the (freq desc, pair asc) winner, and applies it left-to-right
    non-overlapping.  Output: the ranked merge table (merge_rank, left,
    right, freq) — the artifact a tokenizer ships; stops early when no
    pair remains.

    Scale: ONE corpus-sized shuffle total (the initial vocab aggregate).
    By Heaps' law the distinct vocabulary fits in driver memory at any
    corpus size, so when it is under ``driver_vocab_cap`` the merge
    rounds run IN-MEMORY on the driver with incremental pair updates
    (_train_bpe_merges_driver) — a production tokenizer needs 32k–64k
    rounds, and two Spark jobs per round is a driver-scheduling latency
    floor no cluster size fixes.  A pathological vocabulary over the cap
    falls back to the fully distributed per-round loop
    (_train_bpe_merges_distributed), pytest-pinned equal.  Rows-only
    (argmax-per-round iteration is not SQL-expressible); pinned by the
    classic hand-computable pytest plus the two-path parity test."""
    d = read_docs(spark, sf_dir).select(F.explode(F.expr(TOKS)).alias("w"))
    vocab = d.groupBy("w").agg(F.count("*").alias("wc"))
    if driver_vocab_cap:
        multi = vocab.filter(F.length("w") >= 2)
        rows = multi.limit(driver_vocab_cap + 1).collect()
        if len(rows) <= driver_vocab_cap:  # the WHOLE vocab is in hand
            merges = _train_bpe_merges_driver(
                [(r["w"], int(r["wc"])) for r in rows], n_merges
            )
            return spark.createDataFrame(
                merges, "merge_rank int, left string, right string, freq bigint"
            )
    return _train_bpe_merges_distributed(spark, vocab, n_merges)


def _train_bpe_merges_distributed(
    spark: SparkSession, vocab: DataFrame, n_merges: int
) -> DataFrame:
    """The fully distributed merge loop: every training round is a
    vocab-sized pair count + a vocab-sized projection, with the
    segmentation frame eagerly localCheckpointed per round so lineage
    never stacks across rounds.  Only one (pair, freq) row crosses the
    driver per round."""
    segs = (
        vocab.select(
            "w",
            "wc",
            F.expr(
                "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
            ).alias("seg"),
        )
        .filter(F.size("seg") >= 2)  # single-char words can never pair
        .localCheckpoint(eager=True)
    )
    merges: list[tuple[int, str, str, int]] = []
    pair_expr = (
        "transform(sequence(1, size(seg) - 1), "
        "i -> struct(element_at(seg, i) AS a, element_at(seg, i + 1) AS b))"
    )
    for rnd in range(n_merges):
        top = (
            segs.select("wc", F.explode(F.expr(pair_expr)).alias("p"))
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("wc").cast("bigint").alias("freq"))
            .orderBy(F.col("freq").desc(), "a", "b")
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, freq = top[0]["a"], top[0]["b"], int(top[0]["freq"])
        merges.append((rnd + 1, a, b, freq))
        prev = segs
        # fully-merged words (one token) can never pair again — drop them
        # so the working set shrinks monotonically; the previous round's
        # checkpoint is released (the dedup_clusters loop discipline:
        # without unpersist each round leaks a cached frame for the
        # session lifetime)
        segs = (
            prev.select("w", "wc", _bpe_merge_once_expr(a, b).alias("seg"))
            .filter(F.size("seg") >= 2)
            .localCheckpoint(eager=True)
        )
        prev.unpersist()
    return spark.createDataFrame(
        merges, "merge_rank int, left string, right string, freq bigint"
    )


def text_bpe_encode_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """text_bpe_encode driven by the FULLY TRAINED merge table
    (train_bpe_merges) instead of the first-order character-pair counts —
    the production composition: train once, encode the corpus with the
    shipped ranks.  Same vocab-sized Arrow crossing; multi-char merges
    are unambiguous because ranks key on (left, right) token pairs."""
    ranks = {
        (r["left"], r["right"]): int(r["merge_rank"])
        for r in train_bpe_merges(spark, sf_dir).collect()
    }
    return _bpe_encode_with(spark, sf_dir, ranks)


def text_length_stats_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of text_length_stats: approx_percentile (a mergeable
    t-digest-style sketch — map-side partials, constant-size merge) instead
    of exact percentile's per-group sort.  Rows-only check (sketch output
    is implementation-defined); the ±1% accuracy band vs the exact op is
    pinned in pytest."""
    d = read_docs(spark, sf_dir)
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.expr("approx_percentile(n_chars, 0.5, 10000)"), 2).alias("p50_chars"),
        F.round(F.expr("approx_percentile(n_chars, 0.9, 10000)"), 2).alias("p90_chars"),
    )


_TFIDF_TOPK = 3


def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k most distinctive terms per document by a rational tf-idf
    score: (c_td / n_d) * (N / df_t) — term frequency times reciprocal
    document frequency.  The reciprocal-df idf (instead of the textbook
    ln(N/df)) keeps every arithmetic step an exact-integer-to-double
    conversion plus IEEE divide/multiply, so Spark and the DuckDB oracle
    produce bit-identical doubles with no transcendental-libm drift.

    Scale: two hash aggregates — term counts keyed by (doc_id, w) (doc_id
    in the key, so hot vocabulary spreads across reducers) and a w-keyed
    df agg whose output is vocabulary-sized; df joins back on w (AQE
    broadcasts the vocab side when small, a plain shuffle join otherwise).
    The top-k window partitions by doc_id — no global sort, no UDFs.
    Part of the §2.E LLM-pipeline family (the reference has no analytics
    surface; corpus-level term statistics are a standard curation need).
    """
    d = read_docs(spark, sf_dir).select("doc_id", F.expr(TOKS).alias("arr"))
    n_total = d.select(F.count("*").alias("n_docs_total"))
    tc = (
        d.select("doc_id", F.size("arr").alias("n_d"), F.explode("arr").alias("w"))
        .groupBy("doc_id", "n_d", "w")
        .agg(F.count("*").alias("c"))
    )
    df_t = tc.groupBy("w").agg(F.count("*").alias("df"))
    score = (F.col("c") / F.col("n_d")) * (F.col("n_docs_total") / F.col("df"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("w"))
    return (
        tc.join(df_t, "w")
        .crossJoin(F.broadcast(n_total))
        .withColumn("score", score)
        .withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= _TFIDF_TOPK)
        .select(
            "doc_id",
            F.col("w").alias("term"),
            "term_rank",
            F.round("score", 4).alias("tfidf"),
        )
    )


#: DuckDB mirror of ``quality_expr()`` over (text, arr) columns —
#: left-associated exactly like Spark's (A*B)*C so the IEEE product is
#: bit-identical; shared by the repeat-plan and curriculum oracles.
SQL_QEXPR = """least(len(arr) / 64.0, 1.0)
                       * (0.5 + 0.5 * (length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                                       * 1.0 / greatest(length(text), 1)))
                       * (1.0 - 0.5 * (len(list_filter(arr,
                                           w -> w IN ('the','a','and','of','to','in','is')))
                                       * 1.0 / greatest(len(arr), 1)))"""


# Gopher repetition-quality CTE chain (names prefixed g* so it composes
# with the jaccard chain inside one statement).  Ends with `gj`
# (doc_id, n_tokens, top_frac, dup_frac); callers prepend WITH [RECURSIVE].
SQL_GOPHER_CTES = f"""
        gtoks AS (
            SELECT doc_id, {SQL_TOKS} AS arr FROM documents
        ), gbase AS (
            SELECT doc_id, arr, len(arr) AS n_tokens FROM gtoks
        ), guni AS (
            SELECT doc_id, max(c) AS top_uni FROM (
                SELECT doc_id, w, count(*) AS c
                FROM (SELECT doc_id, unnest(arr) AS w FROM gbase) GROUP BY 1, 2
            ) GROUP BY doc_id
        ), gtri AS (
            SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tri, count(*) AS n_tri_distinct
            FROM (
                SELECT doc_id, g, count(*) AS c FROM (
                    SELECT doc_id, unnest(list_transform(range(1, greatest(len(arr) - 1, 1)),
                           i -> arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2])) AS g
                    FROM gbase WHERE len(arr) >= 3
                ) GROUP BY 1, 2
            ) GROUP BY doc_id
        ), gj AS (
            SELECT b.doc_id, b.n_tokens,
                   coalesce(top_uni, 0) * 1.0 / greatest(b.n_tokens, 1) AS top_frac,
                   CASE WHEN coalesce(n_tri, 0) > 0
                        THEN 1.0 - n_tri_distinct * 1.0 / n_tri ELSE 0.0 END AS dup_frac
            FROM gbase b LEFT JOIN guni USING (doc_id) LEFT JOIN gtri USING (doc_id)
        )
"""

ORACLES: dict[str, str] = {
    "text_langid": f"""
        WITH toks AS (SELECT doc_id, {SQL_TOKS} AS arr FROM documents)
        SELECT doc_id, en_hits, de_hits, fr_hits, es_hits,
               CASE WHEN en_hits = 0 AND de_hits = 0 AND fr_hits = 0 AND es_hits = 0 THEN 'unknown'
                    WHEN en_hits >= de_hits AND en_hits >= fr_hits AND en_hits >= es_hits THEN 'en'
                    WHEN de_hits >= fr_hits AND de_hits >= es_hits THEN 'de'
                    WHEN fr_hits >= es_hits THEN 'fr' ELSE 'es' END AS lang_guess
        FROM (
            SELECT doc_id,
                   len(list_filter(arr, w -> w IN ('the','a','and','of','to'))) AS en_hits,
                   len(list_filter(arr, w -> w IN ('der','die','und','das','ein'))) AS de_hits,
                   len(list_filter(arr, w -> w IN ('le','la','et','les','des'))) AS fr_hits,
                   len(list_filter(arr, w -> w IN ('el','los','las','una','y'))) AS es_hits
            FROM toks
        )
    """,
    "text_quality": f"""
        WITH base AS (
            SELECT doc_id,
                   length(text) AS n_chars_m,
                   len({SQL_TOKS}) AS n_tokens,
                   len(list_filter({SQL_TOKS}, w -> w IN ('the','a','and','of','to','in','is'))) AS n_stop,
                   length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS n_alpha
            FROM documents
        ), ratios AS (
            SELECT doc_id, n_chars_m, n_tokens,
                   n_stop * 1.0 / greatest(n_tokens, 1) AS stop_raw,
                   n_alpha * 1.0 / greatest(n_chars_m, 1) AS alpha_raw
            FROM base
        )
        SELECT doc_id, n_chars_m, n_tokens,
               round(stop_raw, 4) AS stopword_ratio,
               round(alpha_raw, 4) AS alpha_ratio,
               round(least(n_tokens / 64.0, 1.0) * (0.5 + 0.5 * alpha_raw)
                     * (1.0 - 0.5 * stop_raw), 4) AS quality_score
        FROM ratios
    """,
    "text_tokens": r"""
        SELECT doc_id,
               len(list_filter(regexp_split_to_array(text, '\s+'), w -> w <> '')) AS ws_tokens,
               len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS bpe_tokens
        FROM documents
    """,
    "text_fingerprint": f"""
        SELECT doc_id,
               sha256(array_to_string(list_sort(list_distinct({SQL_TOKS})), ' ')) AS fingerprint
        FROM documents
    """,
    "text_pii_redact": f"""
        WITH aug AS (
            SELECT doc_id,
                   text || ' contact user' || doc_id
                        || '@mail.example.com or https://ex.org/d/' || doc_id
                        || '?ref=corpus' AS raw
            FROM documents
        )
        SELECT doc_id,
               len(regexp_extract_all(raw, '{_EMAIL_RE}')) AS n_emails,
               len(regexp_extract_all(raw, '{_URL_RE}')) AS n_urls,
               regexp_replace(regexp_replace(raw, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                              '{_URL_RE}', '<URL>', 'g') AS redacted
        FROM aug
    """,
    "text_length_stats": """
        SELECT lang,
               count(*) AS n_docs,
               round(avg(n_chars), 2) AS avg_chars,
               round(quantile_cont(n_chars, 0.5), 2) AS p50_chars,
               round(quantile_cont(n_chars, 0.9), 2) AS p90_chars,
               max(n_chars) AS max_chars
        FROM documents GROUP BY lang
    """,
    "text_perplexity": f"""
        WITH {SQL_PPL_CTES}
        SELECT doc_id, n_tokens, avg_logloss, lm_keep,
               CASE WHEN avg_logloss <= p33 THEN 'head'
                    WHEN avg_logloss <= p66 THEN 'middle'
                    ELSE 'tail' END AS ppl_bucket
        FROM ppl_scored, ppl_cuts
    """,
    "text_perplexity_bigram": f"""
        WITH bga AS (
            SELECT doc_id, {SQL_TOKS} AS arr FROM documents
        ),
        bg AS (
            SELECT doc_id,
                   unnest(arr[1:len(arr) - 1]) AS w1,
                   unnest(arr[2:len(arr)]) AS w2
            FROM bga WHERE len(arr) >= 2
        ),
        dbg AS (
            SELECT doc_id, w1, w2, count(*) AS c FROM bg GROUP BY doc_id, w1, w2
        ),
        cbg AS (SELECT w1, w2, sum(c) AS c12 FROM dbg GROUP BY w1, w2),
        c1 AS (SELECT w1, sum(c12) AS c1 FROM cbg GROUP BY w1),
        vtot AS (
            SELECT count(DISTINCT w) AS v_size
            FROM (SELECT unnest(arr) AS w FROM bga)
        ),
        bj AS (
            SELECT dbg.doc_id, dbg.c,
                   -ln(CAST(cbg.c12 + 1 AS DOUBLE)
                       / CAST(c1.c1 + vtot.v_size AS DOUBLE)) AS ll
            FROM dbg JOIN cbg USING (w1, w2) JOIN c1 USING (w1), vtot
        ),
        bscored AS (
            SELECT doc_id,
                   CAST(sum(c) AS BIGINT) AS n_bigrams,
                   round(sum(c * ll) / sum(c), 4) AS avg_logloss
            FROM bj GROUP BY doc_id
        ),
        bcuts AS (
            SELECT round(quantile_cont(avg_logloss, 1.0 / 3), 4) AS p33,
                   round(quantile_cont(avg_logloss, 2.0 / 3), 4) AS p66
            FROM bscored
        )
        SELECT doc_id, n_bigrams, avg_logloss,
               CASE WHEN avg_logloss <= p33 THEN 'head'
                    WHEN avg_logloss <= p66 THEN 'middle'
                    ELSE 'tail' END AS ppl_bucket
        FROM bscored, bcuts
    """,
    "text_bpe_pairs": f"""
        WITH toks AS (SELECT unnest({SQL_TOKS}) AS w FROM documents),
        vocab AS (SELECT w, count(*) AS wc FROM toks GROUP BY w),
        pairs AS (
            SELECT unnest(list_transform(range(1, len(w)), i -> substr(w, i, 2))) AS pair, wc
            FROM vocab WHERE len(w) >= 2
        )
        SELECT pair, CAST(sum(wc) AS BIGINT) AS freq
        FROM pairs GROUP BY pair
        ORDER BY freq DESC, pair LIMIT {_BPE_TOPK}
    """,
    "text_gopher_quality": f"""
        WITH {SQL_GOPHER_CTES}
        SELECT doc_id, n_tokens,
               round(top_frac, 4) AS top_unigram_frac,
               round(dup_frac, 4) AS dup_trigram_frac,
               CAST(n_tokens >= 8 AND top_frac <= 0.2 AND dup_frac <= 0.3 AS INT) AS gopher_pass
        FROM gj
    """,
    "text_tfidf_topk": f"""
        WITH toks AS (
            SELECT doc_id, {SQL_TOKS} AS arr FROM documents
        ), tc AS (
            SELECT doc_id, n_d, w, count(*) AS c FROM (
                SELECT doc_id, len(arr) AS n_d, unnest(arr) AS w FROM toks
            ) GROUP BY doc_id, n_d, w
        ), dft AS (
            SELECT w, count(*) AS df FROM tc GROUP BY w
        ), nd AS (
            SELECT count(*) AS n_docs_total FROM documents
        ), scored AS (
            -- same operation order as the Spark side: (c/n_d) * (N/df),
            -- each an int->double conversion + one IEEE divide
            SELECT t.doc_id, t.w,
                   (t.c * 1.0 / t.n_d) * (nd.n_docs_total * 1.0 / d.df) AS score
            FROM tc t JOIN dft d USING (w) CROSS JOIN nd
        )
        SELECT doc_id, w AS term,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, w) AS term_rank,
               round(score, 4) AS tfidf
        FROM scored QUALIFY term_rank <= {_TFIDF_TOPK}
    """,
}

QUERIES = {
    "text_langid": text_langid,
    "text_quality": text_quality,
    "text_tokens": text_tokens,
    "text_fingerprint": text_fingerprint,
    "text_pii_redact": text_pii_redact,
    "text_length_stats": text_length_stats,
    "text_length_stats_approx": text_length_stats_approx,
    "text_gopher_quality": text_gopher_quality,
    "text_perplexity": text_perplexity,
    "text_perplexity_bigram": text_perplexity_bigram,
    "text_bpe_pairs": text_bpe_pairs,
    "text_bpe_encode": text_bpe_encode,
    "train_bpe_merges": train_bpe_merges,
    "text_bpe_encode_trained": text_bpe_encode_trained,
    "text_tfidf_topk": text_tfidf_topk,
}
