"""Text deduplication, near-dup clustering and duplicated spans over the
``documents`` table.

Exact dedup (sha256 groups, keep-best survivorship), shingle Jaccard and
its 100 TB MinHash-LSH front end, SimHash, connected components over the
pair graph, corpus-level boilerplate line removal, and Lee et al.-style
duplicated-span detection and stripping.  Each public ``(spark, sf_dir)``
op has its DuckDB oracle in ``ORACLES`` (same column names, same
rounding); the xxhash64-family sketches (MinHash, SimHash) have no DuckDB
equivalent and are pinned against their exact counterparts in pytest.

Scale: the *exact* pairwise ops (word-shingle Jaccard) are the
small-data oracles; the sketch variants (MinHash-LSH, banded SimHash) are
the 100 TB paths — candidate generation via equality joins on sketch
keys, never an O(n²) cross join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .corpus import SHINGLES, SQL_SHINGLES, SQL_TOKS, TOKS, read_docs, tokenized_arr
from .textquality import quality_expr

# Shingles appearing in more than this many documents are dropped before any
# exact-Jaccard equi-join: a hot boilerplate shingle ("all rights reserved")
# otherwise blows the a.sh = b.sh join up quadratically on that one key.
# Dropping ultra-common shingles changes Jaccard negligibly (they carry no
# discrimination) — standard practice in web-scale near-dedup.  128 is far
# above the max df on the test corpora (25 at sf0.1), so small-scale results
# are bit-identical; at 100 TB it bounds the worst key to 128² pairs.
#
# Trade-off, stated honestly: a MUTUALLY-near-duplicate cluster larger than
# the cap shares shingles whose df exceeds it, so the cap can hide such a
# mega-cluster from the sketch.  The pipeline order defuses this: run
# dedup_exact / dedup_keep_best FIRST (identical copies — the usual cause of
# df that high — collapse to one representative before near-dup runs), and
# at production scale raise the cap toward a corpus-relative threshold
# (e.g. max(128, 0.1% of docs)) rather than lowering it.
_MAX_SHINGLE_DF = 128


def _shingle_rows(
    spark: SparkSession,
    sf_dir: str,
    max_df: int | None = None,
    docs: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, sh) exploded distinct shingles — input to jaccard + minhash.

    With ``max_df``, shingles whose document frequency exceeds it are
    dropped via a count window over the shingle key — one shuffle on ``sh``,
    the same partitioning the downstream equi-join needs anyway.
    ``docs`` optionally supplies a pre-tokenized (doc_id, ..., arr) frame.
    """
    base = (
        docs.select("doc_id", "arr")
        if docs is not None
        else read_docs(spark, sf_dir).select("doc_id", F.expr(TOKS).alias("arr"))
    )
    sh = base.select("doc_id", F.explode(F.expr(SHINGLES)).alias("sh"))
    if max_df is None:
        return sh
    w = Window.partitionBy("sh")
    return sh.withColumn("df", F.count("*").over(w)).filter(F.col("df") <= max_df).drop("df")


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one group per sha256(text); keep the min doc_id.

    Scale: a single hash-aggregate shuffle on a 32-byte key — the cheapest
    possible dedup at 100 TB; AQE coalesces the post-agg partitions.
    """
    return (
        read_docs(spark, sf_dir)
        .groupBy(F.sha2(F.col("text"), 256).alias("text_hash"))
        .agg(F.count("*").alias("n_dups"), F.min("doc_id").alias("keep_doc_id"))
    )


def _exact_jaccard_pairs(sh, cand=None):
    """(doc_a, doc_b, jaccard) pairs with jaccard >= 0.5 from a
    (doc_id, sh) shingle frame — the ONE definition of the exact-Jaccard
    verification math, shared by dedup_ngram_jaccard (all pairs via the
    shingle self-join) and dedup_minhash_lsh (candidate pairs only).  The
    two ops are pinned against each other in pytest; sharing the body
    makes that pin structural."""
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    if cand is None:
        inter = (
            a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
            .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .agg(F.count("*").alias("n_inter"))
        )
    else:
        inter = (
            cand.join(a, cand.doc_a == F.col("a.doc_id"))
            .join(b, (cand.doc_b == F.col("b.doc_id")) & (F.col("a.sh") == F.col("b.sh")))
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("n_inter"))
        )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", F.round(F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")), 4))
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", "jaccard")
    )


def dedup_ngram_jaccard(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """Exact 3-word-shingle Jaccard pairs ≥ 0.5 (the small-scale oracle).

    Scale: quadratic in pair count by design — this op exists as the
    correctness oracle for MinHash-LSH, which is the 100 TB path
    (dedup_minhash_lsh) — but the per-key blowup is bounded: shingles with
    document frequency > _MAX_SHINGLE_DF are dropped before the self-join
    (mirrored exactly in the DuckDB oracle).
    """
    if docs is None:
        docs = tokenized_arr(spark, sf_dir)  # tokenize ONCE for all 3 consumers
    return _exact_jaccard_pairs(
        _shingle_rows(spark, sf_dir, max_df=_MAX_SHINGLE_DF, docs=docs)
    )


MINHASH_PERMS = 32
LSH_BANDS = 8  # 4 rows/band → P(candidate | j=0.5) ≈ 1-(1-0.5^4)^8 ≈ 0.4, j=0.9 ≈ 0.998


def minhash_band_rows(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """(doc_id, band_key) rows — the MinHash signature + LSH banding stage
    of :func:`dedup_minhash_lsh`, exposed so the streaming face
    (streaming/neardup.py) can be parity-pinned against the REAL batch
    construction rather than a copy of it.

    Hash family: each shingle string is xxhash64'd ONCE, then the 32
    permutations rehash that long — 1 string hash + 32 long hashes per
    row instead of 32 string hashes (2.9x faster signature stage at
    sf0.1; same independence in practice, and ANSI-safe, unlike
    multiply-mix families which raise on long overflow).  Signatures
    hash the UNCAPPED shingle set (standard MinHash; see
    dedup_minhash_lsh on why the df cap applies to join stages only).
    """
    base = _shingle_rows(spark, sf_dir, docs=docs).withColumn(
        "h", F.xxhash64(F.col("sh"))
    )
    sigs = base.groupBy("doc_id").agg(
        *[F.min(F.xxhash64(F.lit(i), F.col("h"))).alias("h%d" % i) for i in range(MINHASH_PERMS)]
    )
    rows_per_band = MINHASH_PERMS // LSH_BANDS
    band_keys = F.array(
        *[
            F.xxhash64(F.lit(b), *[F.col("h%d" % (b * rows_per_band + r)) for r in range(rows_per_band)])
            for b in range(LSH_BANDS)
        ]
    )
    return sigs.select("doc_id", F.explode(band_keys).alias("band_key"))


def dedup_minhash_lsh(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """MinHash(32 perms) + LSH(8 bands × 4 rows) candidate pairs, verified
    with exact Jaccard ≥ 0.5.  Output shape == dedup_ngram_jaccard.

    Scale path: candidates come from an equality join on band keys (shuffle
    on a 8×n-row key set), never a cross join; verification touches only
    candidate pairs.  Hash family: xxhash64(seed, shingle) — JVM-side,
    whole-stage-codegen'd.  No DuckDB oracle (hash family differs);
    pinned against dedup_ngram_jaccard in tests/test_textops.py.

    The df-cap (df ≤ _MAX_SHINGLE_DF) applies to the JOIN stages only —
    the band-key candidate join and the exact-Jaccard verification join —
    where a hot boilerplate shingle would blow up quadratically.  The
    signature stage hashes the UNCAPPED shingle set (standard MinHash):
    the cap's count-window is a full shuffle on the shingle key, pure
    overhead in a stage that only aggregates per doc_id, and minhash
    already tolerates hot shingles (they shift all signatures equally).
    On the test corpora max df is 25 < 128, so capped and uncapped
    signatures are identical and the exact-Jaccard pytest pin is unchanged.
    """
    if docs is None:
        docs = tokenized_arr(spark, sf_dir)  # tokenize ONCE for both stages
    sh = _shingle_rows(spark, sf_dir, max_df=_MAX_SHINGLE_DF, docs=docs)
    bands = minhash_band_rows(spark, sf_dir, docs=docs)
    ba = bands.alias("a")
    bb = bands.alias("b")
    cand = (
        ba.join(bb, (F.col("a.band_key") == F.col("b.band_key")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # verify candidates with exact jaccard — literally dedup_ngram_jaccard's
    # body (shared helper), only the pair source differs
    return _exact_jaccard_pairs(sh, cand)


_SIMHASH_BITS = 63  # stay within a signed long without sign games


def _simhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash) — 63-bit SimHash over word unigrams (multiplicity
    counts as weight), hash family xxhash64.  All JVM-side expressions.

    The per-bit vote counts are bit-sliced: 16 packed longs, each carrying
    four 16-bit popcount lanes, so the groupBy runs 17 aggregates instead
    of 63 (measured 5x faster at sf0.1; signatures identical).  Bit i is
    set iff 2*ones_i > n_words — same majority vote as summing +/-1 per
    word.  Bound: each row adds < 2^49 to a packed sum, so ANSI long
    overflow (which raises) binds first at ~16k words per doc — far past
    any real document; chunk upstream if a corpus ever gets there.
    """
    words = (
        read_docs(spark, sf_dir)
        .select("doc_id", F.explode(F.expr(TOKS)).alias("w"))
        .withColumn("h", F.xxhash64(F.lit(0), F.col("w")))
    )
    aggs = [F.count("*").alias("n")]
    for s in range(16):
        lanes = []
        for j in range(4):
            i = 4 * s + j
            if i >= _SIMHASH_BITS:
                break
            lanes.append("((shiftright(h, %d) & 1) << %d)" % (i, 16 * j))
        aggs.append(F.expr("sum(%s)" % " + ".join(lanes)).alias("p%d" % s))
    votes = words.groupBy("doc_id").agg(*aggs)
    terms = []
    for i in range(_SIMHASH_BITS):
        s, j = divmod(i, 4)
        ones = "((p%d >> %d) & 65535)" % (s, 16 * j)
        terms.append("IF(2 * %s > n, %dL, 0L)" % (ones, 1 << i))
    return votes.select("doc_id", F.expr(" + ".join(terms)).alias("simhash"))


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with hamming ≤ 3, banded join on 4×16-bit
    chunks (pigeonhole: hamming ≤ 3 ⇒ at least one equal chunk), so the
    candidate join is an equality join — the 100 TB path.  Rows-only check
    (xxhash64 family); invariants pinned in tests/test_textops.py.
    """
    sigs = _simhash_sigs(spark, sf_dir)
    chunks = sigs.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(*[F.shiftright(F.col("simhash"), 16 * c).bitwiseAND(F.lit(0xFFFF)) for c in range(4)])
        ).alias("chunk_idx", "chunk"),
    )
    a = chunks.alias("a")
    b = chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))))
        .filter(F.col("hamming") <= 3)
        .select("doc_a", "doc_b", "hamming")
    )


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actual dedup DECISION a training pipeline makes: within each
    exact-duplicate group keep the doc with the best quality score (doc_id
    as the deterministic tie-break), emit kept id + how many it displaced.

    Scale: one hash-agg shuffle on sha256(text) after a narrow per-row
    quality projection — same cost shape as dedup_exact; the window runs
    inside the group partition (max group size == dup multiplicity).
    """
    d = read_docs(spark, sf_dir).select("doc_id", "text", F.expr(TOKS).alias("arr"))
    scored = d.select(
        "doc_id",
        F.sha2(F.col("text"), 256).alias("text_hash"),
        quality_expr().alias("q"),  # text_quality's composite, unrounded
    )
    return _keep_best(scored, "text_hash")


def _keep_best(scored: DataFrame, group: str) -> DataFrame:
    """Per ``group`` value of a (doc_id, q, group) frame: the best-q doc
    (doc_id breaks ties), how many it displaced, and its q rounded — the
    survivor choice shared by exact-dup and near-dup-cluster dedup."""
    w = Window.partitionBy(group).orderBy(F.col("q").desc(), F.col("doc_id"))
    ranked = scored.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy(group).agg(
        F.min(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("keep_doc_id"),
        (F.count("*") - 1).alias("n_discarded"),
        F.round(F.max("q"), 4).alias("best_quality"),
    )


def boilerplate_strip(
    df: DataFrame,
    key_cols: list[str],
    corpus_col: str,
    text_col: str = "text",
    min_df: int = 3,
) -> DataFrame:
    """Corpus-level boilerplate line removal (the CCNet/RefinedWeb trick):
    a line whose trimmed form appears in ≥ ``min_df`` distinct containers
    (``corpus_col`` values — conversations, domains, …) is template
    chrome, not content; strip it from every document and rebuild the
    survivors in original order.  This is the cross-document complement to
    the per-document DOM text-density heuristic in kernel/html_extract.py:
    the DOM pass cannot see that a perfectly text-dense line repeats on
    every page of a site.

    Returns one row per ``key_cols`` group: ``clean_text`` (surviving
    lines joined by \\n), ``n_lines``, ``n_removed``.

    Scale: posexplode → one hash aggregate keyed by the trimmed line
    (partial map-side combine collapses hot template lines to one row per
    map partition before the shuffle) → the high-df slice is broadcast
    back as a membership join (bounded: only lines crossing the df
    threshold ship) → one groupBy(key_cols) rebuild.  The fat text column
    crosses exactly two shuffles (explode→rebuild), same as any
    reassembly; no UDFs anywhere.  If the boilerplate slice ever outgrows
    broadcast range (a 100 TB crawl with millions of template lines),
    swap F.broadcast for a plain equality join — the plan stays keyed,
    never cartesian.
    """
    # posexplode_outer: a NULL-text row must survive as an empty document,
    # not vanish from the output.  Split on \r?\n and trim space/tab/CR so
    # CRLF documents and tab-indented variants of the same template line
    # share one df key (the rebuilt text is normalized to \n endings).
    lines = df.select(
        *key_cols,
        F.col(corpus_col).alias("_corpus"),
        F.posexplode_outer(F.split(F.col(text_col), "\r?\n")).alias("pos", "line"),
    ).withColumn("norm", F.expr("trim(BOTH ' \t\r' FROM line)"))
    bp = (
        lines.where(F.col("norm") != "")
        .groupBy("norm")
        .agg(F.countDistinct("_corpus").alias("line_df"))
        .where(F.col("line_df") >= min_df)
        .select("norm", "line_df")
    )
    flagged = lines.join(F.broadcast(bp), "norm", "left")
    return flagged.groupBy(*key_cols).agg(
        F.array_join(
            F.expr(
                "transform(array_sort(collect_list("
                "CASE WHEN line_df IS NULL THEN struct(pos, line) END)), s -> s.line)"
            ),
            "\n",
        ).alias("clean_text"),
        F.count("*").alias("n_lines"),
        F.sum(F.when(F.col("line_df").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_removed"),
    )


def dedup_clusters(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """Connected components over the near-duplicate pair graph (the step
    that turns pairwise dedup output into keep-one-per-cluster decisions):
    iterative min-label propagation to a fixpoint.

    Scale: each iteration is one shuffle join keyed by doc_id (the classic
    large-graph CC loop — converges in graph-diameter iterations, and dup
    graphs are shallow); only a single scalar (the change count) crosses
    the driver per iteration.  Oracle: DuckDB recursive-CTE transitive
    closure — exponential in path count, viable only at oracle scale.
    """
    return _connected_components(dedup_ngram_jaccard(spark, sf_dir, docs=docs))


def dedup_minhash_clusters(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """dedup_clusters' 100 TB front end: the SAME connected-components
    fixpoint, but with the pair graph coming from MinHash-LSH band-key
    candidates (verified by exact Jaccard on candidates only) instead of
    the exact all-shingle self-join — the composition a production dedup
    actually runs, since exact pair generation is the one stage that
    cannot scale.  Rows-only check (xxhash64 family); pinned row-for-row
    against dedup_clusters in pytest (on the test corpora LSH recall at
    j ≥ 0.5 is total, so the graphs — and therefore the clusters — agree).
    """
    return _connected_components(dedup_minhash_lsh(spark, sf_dir, docs=docs))


# rounds of plain neighbor-min before the pointer jump engages: shallow
# (clique-shaped) dup graphs converge within the grace and never pay the
# second join; deeper chains still get O(log diameter) afterwards
_CC_JUMP_GRACE = 2


def _connected_components(
    pairs: DataFrame, max_rounds: int | None = None
) -> DataFrame:
    """Min-label-propagation CC with pointer jumping (path halving) over an
    undirected (doc_a, doc_b) pair frame; see dedup_clusters for the
    scale/oracle story.

    Each round does (1) the classic neighbor-min step — label(v) <-
    min(label(v), min over neighbors) — then, from round
    ``_CC_JUMP_GRACE + 1`` on, (2) a pointer jump — label(v) <-
    label(label(v)).  Step 1 alone converges in graph-diameter rounds,
    which is fine for clique-shaped dup clusters but O(chain length)
    shuffles for the long near-dup CHAINS templated web text actually
    produces (A~B~C~... with no direct A~C edge); the jump halves every
    label path per round, giving O(log diameter) rounds total
    (Shiloach-Vishkin style).  The two-round grace period skips the jump
    join while shallow graphs — the overwhelmingly common case, since
    near-dup clusters are clique-shaped — converge on neighbor-min
    alone, so they never pay the second join per round; a chain that is
    still changing after the grace gets the full halving and keeps the
    logarithmic bound (grace + log2(diameter) + 1 rounds).  Labels only
    ever decrease and only ever hold ids from the same component
    (neighbor labels and label-of-label both stay in-component), so the
    fixpoint — no change anywhere — still forces label(u) = label(v)
    across every edge, i.e. the component min.  The logarithmic bound is
    pinned by ``test_cc_pointer_jumping_rounds`` on a 256-node path
    graph.

    ``max_rounds`` (tests only) raises if convergence takes longer —
    the guard that the jump is actually doing its job.
    """
    # persist the DIRECTED pairs before symmetrizing: the two union
    # branches below are otherwise two independent scans of the pair
    # subtree, i.e. the whole candidate-generation pipeline (LSH bands +
    # verify join, or the exact shingle self-join) would run twice just
    # to build the edge list
    pairs = pairs.select("doc_a", "doc_b").persist()
    edges = pairs.unionByName(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    )
    labels = (
        edges.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .persist()
    )
    edges = edges.persist()
    rounds = 0
    while True:
        rounds += 1
        if max_rounds is not None and rounds > max_rounds:
            raise RuntimeError(
                f"connected components did not converge in {max_rounds} rounds"
            )
        neigh = (
            edges.join(labels, edges.doc_a == labels.doc_id)
            .groupBy(F.col("doc_b").alias("doc_id"))
            .agg(F.min("label").alias("nmin"))
        )
        stepped = labels.join(neigh, "doc_id", "left").select(
            "doc_id",
            F.col("label").alias("old"),
            F.least(F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))).alias(
                "label"
            ),
        )
        if rounds > _CC_JUMP_GRACE:
            # pointer jump: label(v) <- label(label(v)).  Every label is
            # the doc_id of a node inside the labels frame (labels start
            # as self and only ever move to another in-component node's
            # id), so the left join hits except transiently; coalesce
            # keeps it total.
            jump = stepped.select(
                F.col("doc_id").alias("jkey"), F.col("label").alias("jlabel")
            )
            new_labels = (
                stepped.join(jump, stepped.label == jump.jkey, "left")
                .withColumn("label", F.least("label", F.coalesce("jlabel", "label")))
                .select(
                    "doc_id",
                    "label",
                    (F.col("label") < F.col("old")).cast("long").alias("chg"),
                )
            )
        else:
            new_labels = stepped.select(
                "doc_id",
                "label",
                (F.col("label") < F.col("old")).cast("long").alias("chg"),
            )
        # localCheckpoint (eager) both materializes the round AND truncates
        # lineage — without it the logical plan grows by one join per
        # iteration (a 21k-line plan by convergence; planning time and
        # driver memory scale with iterations).  On a production cluster
        # prefer checkpoint() with a checkpoint dir for fault tolerance.
        new_labels = new_labels.localCheckpoint(eager=True)
        changed = new_labels.agg(F.sum("chg")).collect()[0][0] or 0
        labels.unpersist()
        labels = new_labels.drop("chg")
        if changed == 0:
            break
    edges.unpersist()  # the symmetrized pair graph is the largest cached
    # intermediate here — without this every CC invocation leaks it for
    # the session lifetime (4+ invocations per full gate run)
    pairs.unpersist()
    w = Window.partitionBy("label")
    return labels.select(
        "doc_id",
        F.col("label").alias("cluster_id"),
        F.count("*").over(w).alias("cluster_size"),
    )


def dedup_cluster_keep_best(
    spark: SparkSession,
    sf_dir: str,
    clusters: DataFrame | None = None,
    docs: DataFrame | None = None,
) -> DataFrame:
    """The end-to-end near-dup dedup DECISION: pair graph → connected
    components → keep the best-quality doc per cluster (doc_id tie-break),
    emit survivor + displaced count — what a training pipeline actually
    writes back.

    Scale: clusters from the iterative CC loop (see dedup_clusters); the
    survivor choice is one window over cluster_id — cluster sizes are
    bounded by real-world dup multiplicity, so the per-partition sort is
    tiny.  Quality is the text_quality composite, unrounded (ranking only).
    A composed pipeline (corpus_curate) passes its own precomputed
    ``clusters`` frame so the CC fixpoint runs exactly once per plan.
    """
    if clusters is None:
        clusters = dedup_clusters(spark, sf_dir)
    clusters = clusters.select("doc_id", "cluster_id")
    d = (
        docs
        if docs is not None
        else read_docs(spark, sf_dir).select(
            "doc_id", "text", F.expr(TOKS).alias("arr")
        )
    )
    scored = d.select(
        "doc_id",
        quality_expr().alias("q"),
    )
    return _keep_best(clusters.join(scored, "doc_id"), "cluster_id")


# Duplicated-span n-gram width: 8 tokens ≈ the granularity at which prose
# reuse stops being coincidence on an alnum-token stream (Lee et al. use
# 50 BPE tokens on web text; the synthetic corpus' docs are ~40 tokens, so
# 8 keeps the op observable while preserving the plan shape).
_SPAN_N = 8

# Salt width for the dup-gram probe join: the dup side is 1 row/gram, so
# replicating it R ways and keying the fat gram side by (g, hash(doc_id)%R)
# spreads a boilerplate gram shared by a large fraction of the corpus —
# exactly what span dedup exists to find — across R reducers instead of
# one.  Membership semantics are untouched (every gram row still meets its
# dup entry exactly once), so the DuckDB oracle needs no mirror.
_SPAN_SALT = 16


def _dup_gram_cov(
    spark: SparkSession,
    sf_dir: str,
    toks: DataFrame | None = None,
    n: int = _SPAN_N,
) -> DataFrame:
    """(doc_id, s, e) token intervals covered by a cross-document duplicated
    ``_SPAN_N``-gram — the ONE definition of the coverage math, shared by
    dedup_span_ngrams (island merge → spans) and dedup_span_strip (position
    anti-join → cleaned text), mirroring the _SQL_SPANCOV_CTES fragment.
    ``toks`` optionally supplies the caller's already-checkpointed
    (doc_id, arr) frame so a composing op tokenizes the corpus ONCE;
    ``n`` is the span width (8 at gate scale; Lee et al. use ~50 BPE
    tokens on web text — a pure knob, same plan at any value; the DuckDB
    oracle in _SQL_SPANCOV_CTES mirrors the GATE DEFAULT only, so parity
    checks are meaningful only at n == _SPAN_N)."""
    grams_expr = (
        f"CASE WHEN size(arr) >= {n} THEN "
        f"transform(sequence(1, size(arr) - {n - 1}), "
        f"i -> concat_ws(' ', slice(arr, i, {n}))) "
        "ELSE array() END"
    )
    if toks is None:
        toks = tokenized_arr(spark, sf_dir)
    grams = toks.select(
        "doc_id", F.posexplode(F.expr(grams_expr)).alias("pos0", "g")
    ).select("doc_id", (F.col("pos0") + 1).cast("long").alias("s"), "g")
    dup = (
        grams.groupBy("g")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= 2)
        .select("g")
    )
    # Salted probe: the countDistinct agg above is map-side-combine-safe
    # (partial (g, doc_id) dedup, then tiny per-partition counts), but a
    # plain `grams.join(dup, "g")` re-shuffles the fat gram side on the
    # raw gram string — one hot boilerplate gram lands all its rows on a
    # single reducer.  Replicate the 1-row dup side _SPAN_SALT ways and
    # join on the FUSED key gs = g || ':' || salt (tokens are alnum, so
    # ':' never collides) so a hot gram's rows spread across _SPAN_SALT
    # reducers; each gram row still matches exactly one dup replica.
    # The fused single key matters: with separate (g, salt) join keys,
    # the dup side's post-agg hashpartitioning(g) survives the explode,
    # satisfies ClusteredDistribution(g, salt), and EnsureRequirements
    # co-partitions BOTH sides on g alone — silently undoing the salt.
    dup_salted = dup.select(
        "g", F.explode(F.sequence(F.lit(0), F.lit(_SPAN_SALT - 1))).alias("salt")
    ).select(F.concat_ws(":", "g", "salt").alias("gs"))
    grams_salted = grams.select(
        "doc_id",
        "s",
        F.concat_ws(
            ":", F.col("g"), F.pmod(F.hash("doc_id"), F.lit(_SPAN_SALT))
        ).alias("gs"),
    )
    return grams_salted.join(dup_salted, "gs").select(
        "doc_id", "s", (F.col("s") + F.lit(n - 1)).alias("e")
    )


def dedup_span_ngrams(
    spark: SparkSession, sf_dir: str, n: int = _SPAN_N
) -> DataFrame:
    """Cross-document duplicated-SPAN detection — the n-gram-granular
    approximation of exact-substring dedup (Lee et al., "Deduplicating
    Training Data Makes Language Models Better"): a token position is
    *covered* when the ``n``-gram starting there (gate default
    ``_SPAN_N``) occurs in ≥2 distinct documents;
    overlapping/adjacent covered intervals merge into
    maximal spans (gaps-and-islands over a running-max window).  Emits one
    row per (doc, span) with its token interval — what a span-strip pass
    consumes, and a strictly finer signal than doc-level near-dedup
    (catches shared paragraphs inside otherwise-unique docs).

    Scale: no pair join anywhere — a gram shared by K docs costs K rows
    (grams → one hash-agg on the gram string for the distinct-doc count →
    one equi-join back on the same key, both sides already partitioned on
    ``g``), unlike pairwise sketches where a hot key is K².  The island
    merge is a per-doc window (doc-partitioned, tiny).  The suffix-array
    construction the paper uses is a single-machine algorithm; this
    formulation trades sub-n-gram matches for embarrassing parallelism.
    """
    cov = _dup_gram_cov(spark, sf_dir, n=n)
    # gaps-and-islands: break where this interval starts past the running
    # max end + 1 (adjacent spans merge — token runs are contiguous)
    w_prev = (
        Window.partitionBy("doc_id").orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id").orderBy("s").rowsBetween(Window.unboundedPreceding, 0)
    )
    marked = cov.withColumn(
        "brk",
        (F.col("s") > F.coalesce(F.max("e").over(w_prev), F.lit(-1)) + 1).cast("long"),
    ).withColumn("span_idx", F.sum("brk").over(w_run))
    return marked.groupBy("doc_id", "span_idx").agg(
        F.min("s").alias("span_start"),
        F.max("e").alias("span_end"),
        (F.max("e") - F.min("s") + 1).alias("span_len"),
    )


def strip_dup_spans(
    spark: SparkSession, sf_dir: str, toks: DataFrame, n: int = _SPAN_N
) -> DataFrame:
    """(doc_id, n_kept, clean_text) — every token of ``toks`` (doc_id, arr)
    covered by a cross-document duplicated ``n``-gram removed, the
    survivors joined by ' ' in position order.  The ONE strip body, shared
    by dedup_span_strip (sha-verified) and run_curate's ``--strip-spans``
    payload; a doc whose every token is covered has no row."""
    covered = (
        _dup_gram_cov(spark, sf_dir, toks=toks, n=n)
        .select("doc_id", F.explode(F.sequence("s", "e")).alias("pos"))
        .distinct()
    )
    tokpos = toks.select(
        "doc_id", F.posexplode("arr").alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).cast("long").alias("pos"), "tok")
    kept = tokpos.join(covered, ["doc_id", "pos"], "left_anti")
    return kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.expr(
            "concat_ws(' ', transform(array_sort(collect_list(struct(pos, tok))),"
            " p -> p.tok))"
        ).alias("clean_text"),
    )


def dedup_span_strip(
    spark: SparkSession, sf_dir: str, n: int = _SPAN_N
) -> DataFrame:
    """The ACTION for dedup_span_ngrams' findings: remove every token
    covered by a cross-document duplicated n-gram and emit, per document,
    the surviving token count and a sha256 of the cleaned token stream
    (order preserved) — the per-row artifact a strip pass materializes,
    hash-verified without shipping fat text through the comparator.

    Scale: coverage explodes to at most n_tok positions per doc (bounded
    by the corpus token count, not by pair counts), the removal is a
    doc+position anti-join (both sides partitioned by doc_id), and the
    cleaned stream is rebuilt inside the doc-keyed aggregate — the fat
    token stream shuffles ONCE, on the same doc_id key end to end.
    """
    toks = tokenized_arr(spark, sf_dir)
    agg = strip_dup_spans(spark, sf_dir, toks, n=n).select(
        "doc_id", "n_kept", F.sha2("clean_text", 256).alias("clean_sha")
    )
    totals = toks.select("doc_id", F.size("arr").cast("long").alias("n_tokens"))
    return totals.join(agg, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0))).alias("n_removed"),
        F.coalesce(F.col("clean_sha"), F.sha2(F.lit(""), 256)).alias("clean_sha"),
    )


# Duplicated-span coverage CTE chain (toks → positional grams → cross-doc
# dup grams → covered intervals), shared by the dedup_span_ngrams and
# dedup_span_strip oracles — the SQL mirror of _dup_gram_cov.  A bare CTE
# list ending in `cov`; callers prepend WITH and append their own CTEs.
_SQL_SPANCOV_CTES = f"""toks AS (
            SELECT doc_id, {SQL_TOKS} AS arr FROM documents
        ), pos AS (
            SELECT doc_id, arr,
                   unnest(range(1, greatest(len(arr) - {_SPAN_N - 2}, 1))) AS i
            FROM toks
        ), grams AS (
            SELECT doc_id, CAST(i AS BIGINT) AS s, CAST(i + {_SPAN_N - 1} AS BIGINT) AS e,
                   array_to_string(arr[i:i + {_SPAN_N - 1}], ' ') AS g
            FROM pos
        ), dup AS (
            SELECT g FROM grams GROUP BY g HAVING count(DISTINCT doc_id) >= 2
        ), cov AS (
            SELECT doc_id, s, e FROM grams JOIN dup USING (g)
        )"""


# Capped exact-Jaccard pair CTE chain (shared by the dedup_ngram_jaccard
# oracle and the dedup_clusters transitive-closure oracle).  A bare CTE
# list ending in `pairs`; callers prepend WITH / WITH RECURSIVE and append
# their own SELECT (and further CTEs).
SQL_JACCARD_PAIRS = f"""
        toks AS (
            SELECT doc_id, {SQL_TOKS} AS arr FROM documents
        ), sh0 AS (
            SELECT doc_id, unnest({SQL_SHINGLES}) AS sh FROM toks
        ), sh AS (
            -- same document-frequency cap as the Spark side (_MAX_SHINGLE_DF)
            SELECT doc_id, sh FROM sh0
            QUALIFY count(*) OVER (PARTITION BY sh) <= {_MAX_SHINGLE_DF}
        ), sizes AS (
            SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
        ), inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
            FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ), pairs AS (
            SELECT doc_a, doc_b, jaccard FROM (
                SELECT doc_a, doc_b,
                       round(n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter), 4) AS jaccard
                FROM inter
                JOIN sizes sa ON sa.doc_id = doc_a
                JOIN sizes sb ON sb.doc_id = doc_b
            ) WHERE jaccard >= 0.5
        )
"""

ORACLES: dict[str, str] = {
    "dedup_exact": (
        "SELECT sha256(text) AS text_hash, count(*) AS n_dups, min(doc_id) AS keep_doc_id "
        "FROM documents GROUP BY 1"
    ),
    "dedup_ngram_jaccard": f"""
        WITH {SQL_JACCARD_PAIRS}
        SELECT doc_a, doc_b, jaccard FROM pairs
    """,
    "dedup_keep_best": f"""
        WITH scored AS (
            SELECT doc_id, sha256(text) AS text_hash,
                   least(len({SQL_TOKS}) / 64.0, 1.0)
                   * (0.5 + 0.5 * (length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                                   * 1.0 / greatest(length(text), 1)))
                   * (1.0 - 0.5 * (len(list_filter({SQL_TOKS},
                                       w -> w IN ('the','a','and','of','to','in','is')))
                                   * 1.0 / greatest(len({SQL_TOKS}), 1))) AS q
            FROM documents
        ), ranked AS (
            SELECT *, row_number() OVER (PARTITION BY text_hash
                                         ORDER BY q DESC, doc_id) AS rn
            FROM scored
        )
        SELECT text_hash,
               min(CASE WHEN rn = 1 THEN doc_id END) AS keep_doc_id,
               count(*) - 1 AS n_discarded,
               round(max(q), 4) AS best_quality
        FROM ranked GROUP BY text_hash
    """,
    "dedup_span_ngrams": f"""
        WITH {_SQL_SPANCOV_CTES}, marked AS (
            SELECT doc_id, s, e,
                   CASE WHEN s > COALESCE(max(e) OVER (PARTITION BY doc_id ORDER BY s
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
                        THEN 1 ELSE 0 END AS brk
            FROM cov
        ), grp AS (
            SELECT doc_id, s, e,
                   CAST(sum(brk) OVER (PARTITION BY doc_id ORDER BY s
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS span_idx
            FROM marked
        )
        SELECT doc_id, span_idx, min(s) AS span_start, max(e) AS span_end,
               max(e) - min(s) + 1 AS span_len
        FROM grp GROUP BY doc_id, span_idx
    """,
    "dedup_span_strip": f"""
        WITH {_SQL_SPANCOV_CTES}, covered AS (
            SELECT DISTINCT doc_id, pos FROM (
                SELECT doc_id, unnest(range(s, e + 1)) AS pos FROM cov
            )
        ), tokpos AS (
            -- zipped multi-unnest: token and its 1-based position align
            SELECT doc_id, unnest(arr) AS tok,
                   CAST(unnest(range(1, len(arr) + 1)) AS BIGINT) AS pos
            FROM toks
        ), kept AS (
            SELECT t.doc_id, t.pos, t.tok
            FROM tokpos t ANTI JOIN covered c USING (doc_id, pos)
        ), agg AS (
            SELECT doc_id, count(*) AS n_kept,
                   sha256(array_to_string(list(tok ORDER BY pos), ' ')) AS clean_sha
            FROM kept GROUP BY doc_id
        )
        SELECT t.doc_id,
               CAST(len(t.arr) AS BIGINT) AS n_tokens,
               CAST(len(t.arr) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed,
               COALESCE(a.clean_sha, sha256('')) AS clean_sha
        FROM toks t LEFT JOIN agg a USING (doc_id)
    """,
    "dedup_cluster_keep_best": f"""
        WITH RECURSIVE {SQL_JACCARD_PAIRS},
        und AS (
            SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION
            SELECT doc_b AS a, doc_a AS b FROM pairs
        ), nodes AS (
            SELECT DISTINCT a AS doc_id FROM und
        ), reach(src, dst) AS (
            SELECT doc_id, doc_id FROM nodes
            UNION
            SELECT r.src, u.b FROM reach r JOIN und u ON r.dst = u.a
        ), lab AS (
            SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src
        ), scored AS (
            SELECT doc_id,
                   least(len({SQL_TOKS}) / 64.0, 1.0)
                   * (0.5 + 0.5 * (length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                                   * 1.0 / greatest(length(text), 1)))
                   * (1.0 - 0.5 * (len(list_filter({SQL_TOKS},
                                       w -> w IN ('the','a','and','of','to','in','is')))
                                   * 1.0 / greatest(len({SQL_TOKS}), 1))) AS q
            FROM documents
        ), ranked AS (
            SELECT l.cluster_id, s.doc_id, s.q,
                   row_number() OVER (PARTITION BY l.cluster_id
                                      ORDER BY s.q DESC, s.doc_id) AS rn
            FROM lab l JOIN scored s USING (doc_id)
        )
        SELECT cluster_id,
               min(CASE WHEN rn = 1 THEN doc_id END) AS keep_doc_id,
               count(*) - 1 AS n_discarded,
               round(max(q), 4) AS best_quality
        FROM ranked GROUP BY cluster_id
    """,
    "dedup_clusters": f"""
        WITH RECURSIVE {SQL_JACCARD_PAIRS},
        und AS (
            SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION
            SELECT doc_b AS a, doc_a AS b FROM pairs
        ), nodes AS (
            SELECT DISTINCT a AS doc_id FROM und
        ), reach(src, dst) AS (
            SELECT doc_id, doc_id FROM nodes
            UNION
            SELECT r.src, u.b FROM reach r JOIN und u ON r.dst = u.a
        ), lab AS (
            SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src
        )
        SELECT l.doc_id, l.cluster_id, c.cluster_size
        FROM lab l JOIN (
            SELECT cluster_id, count(*) AS cluster_size FROM lab GROUP BY cluster_id
        ) c USING (cluster_id)
    """,
}

QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_simhash": dedup_simhash,
    "dedup_keep_best": dedup_keep_best,
    "dedup_span_ngrams": dedup_span_ngrams,
    "dedup_span_strip": dedup_span_strip,
    "dedup_clusters": dedup_clusters,
    "dedup_minhash_clusters": dedup_minhash_clusters,
    "dedup_cluster_keep_best": dedup_cluster_keep_best,
}
