"""Embedding operators over the ``embeddings`` table: brute-force cosine
top-k, random-hyperplane sign-LSH ANN and near-dup pairs, IVF search over
stand-in or k-means-trained coarse cells, Lloyd's k-means, SemDeDup,
per-label stats, linear-classifier quality scoring and PCA by power
iteration.

Each public ``(spark, sf_dir)`` op has its DuckDB oracle in ``ORACLES``
(same column names, same rounding) unless it is iterative (k-means
trained cells, PCA), which pytest pins instead.  The 100 TB paths are the
bucketed ones — band-key and cell-key equality joins, never an O(n²)
cross join; the IVF+PQ index lives in ``ann_index``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .corpus import DOT, EMB_DIM, SQL_DOT, SQL_EMB_NORM, emb_norm, read_emb
from .lr_model import embed_centered_stats, sql_darray


def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for query vectors (vec_id % 50 == 0).

    Scale: broadcast the (small) query set against the full corpus — one
    scan, no shuffle of the big side; ranking is a per-query window.  The
    100 TB path is sim_ann_lsh (bucketed candidates).
    """
    e = emb_norm(spark, sf_dir)
    q = e.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("nrm").alias("qnrm")
    )
    j = e.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("nv"), F.col("nrm").alias("nnrm")).crossJoin(
        F.broadcast(q)
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    j = j.withColumn("cos_sim", F.round(F.expr(DOT) / (F.col("qnrm") * F.col("nnrm")), 4))
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        j.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


# --- multi-band random-hyperplane sign-LSH ---------------------------------
#
# Band structure mirrors dedup_minhash_lsh: SIGNLSH_BANDS independent
# bands, each hashing the vector to a SIGNLSH_BITS-bit key (one sign bit
# per random hyperplane); candidates are the UNION over bands of same-key
# equality joins.  Random ±1 (Rademacher) hyperplanes — not axis dims — so
# correlated leading dimensions cannot collapse the key space, and the
# coefficients inline as exact integer literals into BOTH the Spark
# expression and the DuckDB oracle (identical left-associated double
# arithmetic ⇒ bit-identical sign decisions ⇒ oracle value-hash parity).
#
# Scale: per-band bucket count is 2^bits; at the gate corpora (500–2000
# vectors) 8 bits keeps occupancy at a few vectors per bucket.  At 10^11
# vectors use recommended_signlsh_bits() (≈ log2(n / occupancy) → 24–31
# bits) — the band-key join shape is unchanged, only the literal bit count
# grows, and per-bucket work stays O(occupancy²), never O((n/256)²).

SIGNLSH_BANDS = 8
SIGNLSH_BITS = 8


def recommended_signlsh_bits(n_vectors: int, target_occupancy: int = 64) -> int:
    """Bits per band so the expected per-band bucket occupancy is
    ``target_occupancy``: verification work per bucket is O(occupancy²)
    regardless of corpus size.  10^11 vectors / occupancy 64 → 31 bits."""
    import math

    if n_vectors <= target_occupancy:
        return SIGNLSH_BITS
    return max(SIGNLSH_BITS, math.ceil(math.log2(n_vectors / target_occupancy)))


def _signlsh_hyperplanes(
    n_bands: int = SIGNLSH_BANDS, n_bits: int = SIGNLSH_BITS, dim: int = EMB_DIM, seed: int = 0x5EED
) -> list[list[list[int]]]:
    """[band][bit] -> +/-1 coefficient vector, from a deterministic LCG (no
    platform-dependent RNG; the same stream feeds Spark and the oracle)."""
    x = seed & 0x7FFFFFFF
    planes = []
    for _ in range(n_bands):
        band = []
        for _ in range(n_bits):
            coeffs = []
            for _ in range(dim):
                x = (1103515245 * x + 12345) & 0x7FFFFFFF
                coeffs.append(1 if (x >> 16) & 1 else -1)
            band.append(coeffs)
        planes.append(band)
    return planes


# The hyperplane matrix renders as a LITERAL array-of-arrays in both
# dialects; Catalyst constant-folds it to a single Literal node, so the
# plan stays small (the naive +/- expansion was a 4096-node tree per band
# that blew the 64KB Janino codegen limit and fell back to interpreted
# eval).  The sign bit is the fold aggregate(zip_with(v, c, *)) >= 0 in
# Spark and list_sum(list_transform(range, v[i]*c[i])) >= 0 in DuckDB —
# the same left-to-right double summation (the proven-parity DOT /
# SQL_DOT pattern), so the sign decision cannot diverge between engines.


def _hp_spark_literal(n_bands: int, n_bits: int, dim: int) -> str:
    planes = _signlsh_hyperplanes(n_bands, n_bits, dim)
    return "array(%s)" % ", ".join(
        "array(%s)" % ", ".join("%d.0D" % c for c in bit)
        for band in planes
        for bit in band
    )


def _hp_duck_literal(n_bands: int, n_bits: int, dim: int) -> str:
    planes = _signlsh_hyperplanes(n_bands, n_bits, dim)
    return "[%s]" % ", ".join(
        "[%s]" % ", ".join("%d.0" % c for c in bit)
        for band in planes
        for bit in band
    )


def spark_signbits_expr(n_bands: int, n_bits: int, dim: int) -> str:
    """Int array of n_bands*n_bits sign bits for vector column v."""
    return (
        "transform(%s, c -> IF(aggregate(zip_with(v, c, (x, y) -> x * y), 0D, "
        "(acc, x) -> acc + x) >= 0, 1, 0))" % _hp_spark_literal(n_bands, n_bits, dim)
    )


def spark_bandkeys_expr(n_bands: int, n_bits: int) -> str:
    """Band-key array from the _sb sign-bit column: key = (band << bits) | bits-in-band."""
    return (
        "transform(sequence(0, %d), b -> b * %d + aggregate(sequence(0, %d), 0, "
        "(acc, i) -> acc + shiftleft(element_at(_sb, b * %d + i + 1), i)))"
        % (n_bands - 1, 1 << n_bits, n_bits - 1, n_bits)
    )


def _duck_signbits_expr(n_bands: int, n_bits: int, dim: int) -> str:
    return (
        "list_transform(%s, c -> CASE WHEN list_sum(list_transform(range(1, %d), "
        "i -> v[i] * c[i])) >= 0 THEN 1 ELSE 0 END)"
        % (_hp_duck_literal(n_bands, n_bits, dim), dim + 1)
    )


def _duck_bandkeys_expr(n_bands: int, n_bits: int) -> str:
    return (
        "list_transform(range(0, %d), b -> b * %d + list_sum(list_transform(range(0, %d), "
        "i -> sb[b * %d + i + 1] * (1 << i))))"
        % (n_bands, 1 << n_bits, n_bits, n_bits)
    )


def signlsh_band_keys(e: DataFrame, n_bands: int = SIGNLSH_BANDS,
                      n_bits: int = SIGNLSH_BITS, dim: int = EMB_DIM) -> DataFrame:
    """Explode a normalized embedding frame (vec_id, v, nrm, ...) into one
    row per (vector, band) with the band's sign-LSH key — the shared
    candidate-generation front end for sim_ann_lsh / dedup_embedding_cosine
    and the planted-near-dup recall pin in tests."""
    clash = {"_sb", "band_key"} & set(e.columns)
    if clash:
        raise ValueError(
            "signlsh_band_keys scratch/output column collision: %s" % sorted(clash)
        )
    return (
        e.withColumn("_sb", F.expr(spark_signbits_expr(n_bands, n_bits, dim)))
        .withColumn("band_key", F.explode(F.expr(spark_bandkeys_expr(n_bands, n_bits))))
        .drop("_sb")
    )


def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-band sign-LSH ANN: candidates are vectors sharing ANY of the
    8 random-hyperplane band keys with the query (union of equality joins,
    exactly dedup_minhash_lsh's band structure), ranked top-3 by exact
    cosine.  This is the scale path: shuffle keys are band keys, never an
    O(n²) cross join, and per-bucket occupancy is tuned by the bit count
    (recommended_signlsh_bits at production scale)."""
    base = emb_norm(spark, sf_dir)
    # eager localCheckpoint (the sim_ann_ivfpq pattern): the q-leg filter
    # makes the two band-key consumers plan-distinct, so AQE exchange
    # reuse does NOT fire (verified: 0 ReusedExchange) — without the
    # checkpoint each leg re-runs the 64 hyperplane dot products per
    # vector AND Janino re-compiles the giant literal-hyperplane HOF per
    # branch (the dominant cost at gate scale: 4.5s cold vs 0.13s warm)
    e = signlsh_band_keys(base).localCheckpoint(eager=True)
    q = e.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "band_key"
    )
    n = e.select(F.col("vec_id").alias("neighbor_id"), "band_key")
    cand = (
        q.join(n, "band_key")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    qv = base.select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("nrm").alias("qnrm"))
    nv = base.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("nv"), F.col("nrm").alias("nnrm"))
    j = cand.join(qv, "query_id").join(nv, "neighbor_id")
    j = j.withColumn("cos_sim", F.round(F.expr(DOT) / (F.col("qnrm") * F.col("nnrm")), 4))
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        j.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


_N_CELLS = 16
_N_PROBE = 2       # plain-IVF gate default (oracle-pinned — don't touch)
N_PROBE_PQ = 4    # IVFPQ family default: 4 of 16 cells at gate scale


def recommended_ivf_cells(n_vectors: int, n_probe: int = N_PROBE_PQ) -> int:
    """Cell count balancing the two scan costs of an IVF query: assigning
    the query reads all ``cells`` centroids, probing reads
    ``n_probe · n/cells`` candidates — total minimized at
    ``cells = sqrt(n_probe · n)`` (the FAISS nlist ≈ k·√n guidance with
    the probe width made explicit).  10^9 vectors, 4 probes → ~63k cells
    with ~16k vectors per cell; the cell-keyed join shape is unchanged,
    only the broadcast codebook grows (cells × dim doubles — 32 MB
    there, still a broadcast).  Floor at the gate default so tiny
    corpora keep observable occupancy."""
    import math

    return max(_N_CELLS, math.ceil(math.sqrt(max(n_vectors, 1) * n_probe)))


def _stand_in_cells(e: DataFrame) -> list[tuple[int, list[float], float]]:
    """The first-``_N_CELLS``-vector stand-in codebook of the oracle-gated
    IVF and SemDeDup ops, in cell_top's (cid, centroid, nrm) shape: the
    vectors are collected (k x dim floats — the same driver crossing the
    trained path's k-means loop makes) so the search can fold them into
    literal arrays.  nrm is collected too, not recomputed, so cell
    cosines are bit-identical to the corpus-side nrm the oracle
    computes."""
    rows = (
        e.filter(F.col("vec_id") < _N_CELLS).select("vec_id", "v", "nrm").collect()
    )
    return [(int(r["vec_id"]), list(r["v"]), float(r["nrm"])) for r in rows]


def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse quantizer cells + nprobe=2 search.

    Cells are seeded deterministically by the first 16 vectors (a stand-in
    for a k-means codebook — at scale the codebook is trained once with
    parallel k-means and broadcast, the search below is unchanged).  Every
    vector is assigned to its max-cosine cell (broadcast join against 16
    centroids — one scan, no shuffle of the corpus); a query probes its 2
    nearest cells and ranks candidates by exact cosine within them.  The
    inverted-file partitioning is what survives 100 TB: candidate joins key
    on cell id, never a cross join against the corpus.
    """
    e = emb_norm(spark, sf_dir)
    return _ivf_search(e, _stand_in_cells(e))


def sim_ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sim_ann_ivf with a genuinely TRAINED codebook: Lloyd's k-means
    (train_kmeans_centroids — the same distributed loop behind
    embed_kmeans) replaces the first-16-vector stand-in, then the
    identical broadcast-assign / nprobe search runs against it.  This is
    the production composition: train once (only k x dim floats ever
    cross the driver per iteration), broadcast the codebook, search with
    cell-keyed joins.  Pytest-pinned: the trained codebook's inertia
    beats the stand-in's on the test corpus, and recall vs the exact
    brute-force top-k does not regress."""
    e = emb_norm(spark, sf_dir)
    return _ivf_search(e, trained_coarse(e, iters=3))


def trained_coarse(
    e: DataFrame, k: int = _N_CELLS, iters: int = 2, seed_mod: int = 7
) -> list[tuple[int, list[float], float]]:
    """k-means-TRAINED coarse quantizer over a (vec_id, v) frame, in the
    (cid, centroid, nrm) shape every cell-assignment consumer takes.
    Centroid norms are computed driver-side with the same left-fold add
    order as the JVM aggregate — IEEE-double identical (Python floats
    ARE IEEE doubles, and the explicit loop folds left).  Shared by
    sim_ann_ivf_trained, sim_ann_ivfpq, and build_ivfpq_index: trained
    cells balance the cell-keyed join (the first-16 stand-in skews hot
    cells into straggler reducers at scale) and lift the recall ceiling
    the probe restriction imposes.  Default iters=2 for the PQ
    compositions: measured recall@3 0.43 at sf0.01 (vs 0.40 at iters=3 —
    the extra Lloyd round does not pay on this corpus) and each round is
    a full assign+agg job whose literal-centroid codegen costs seconds;
    sim_ann_ivf_trained passes iters=3 explicitly (its inertia/recall
    pins were measured there)."""
    import math

    cents = train_kmeans_centroids(
        e.select("vec_id", "v"), k=k, iters=iters, seed_mod=seed_mod
    )
    out = []
    for cid, vec in cents:
        acc = 0.0
        for x in vec:
            acc += x * x
        out.append((cid, vec, math.sqrt(acc)))
    return out


def cell_top(
    e: DataFrame, cents: list[tuple[int, list[float], float]], n_top: int
) -> DataFrame:
    """Max-cosine cell assignment against a driver-side codebook, as one
    pure array-HOF projection: the codebook (k x dim floats) folds into
    literal arrays, so per-row scoring is no n x k crossJoin and no
    groupBy(vec_id) shuffle — assignment is embarrassingly parallel.
    Returns (vec_id, v, nrm, top) where ``top`` holds the ``n_top``
    best cells as struct(-ccos, cid); sort_array over that struct
    ascending == (ccos desc, cent_id asc), the window-plan tie-break.
    Shared by _ivf_search (n_top = nprobe) and dedup_semantic (n_top=1)."""
    order = sorted(cents)
    cvs = F.array(*[F.array(*[F.lit(float(x)) for x in cv]) for _, cv, _ in order])
    cnrms = F.array(*[F.lit(float(cn)) for _, _, cn in order])
    cids = F.array(*[F.lit(int(cid)) for cid, _, _ in order])
    dots = F.transform(
        cvs,
        lambda c: F.aggregate(
            F.zip_with(F.col("v"), c, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, w: acc + w,
        ),
    )
    ccos = F.zip_with(dots, cnrms, lambda d, cn: F.round(d / (F.col("nrm") * cn), 4))
    entries = F.zip_with(
        ccos, cids, lambda c, i: F.struct((-c).alias("negc"), i.alias("cid"))
    )
    # two-step select: the scoring chain is non-cheap and multi-use, so
    # CollapseProject keeps it computed once per row (SPARK-36718)
    return e.select(
        "vec_id", "v", "nrm", F.slice(F.sort_array(entries), 1, n_top).alias("top")
    )


def _ivf_search(
    e: DataFrame,
    cents: list[tuple[int, list[float], float]],
    n_probe: int = _N_PROBE,
) -> DataFrame:
    """Shared IVF search body.  Cell assignment AND probe selection are
    pure array-HOF expressions over ONE corpus scan (cell_top); no
    Window.partitionBy(vec_id) pass that would shuffle the n x k
    scored rows (vectors included) just to rank 16 candidates per row.
    Candidates still come from the cell-keyed equality join — the
    inverted-file structure that survives 100 TB.  ``n_probe`` is the
    recall/cost knob: queries probe their ``n_probe`` nearest cells."""
    staged = cell_top(e, cents, n_probe)
    assigned = staged.select(
        "vec_id",
        F.element_at(F.col("top"), 1).getField("cid").alias("cell"),
        "v",
        "nrm",
    )
    probes = staged.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
        F.explode(F.expr("transform(top, x -> x.cid)")).alias("cell"),
    )
    n = assigned.select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("nv"), F.col("nrm").alias("nnrm"), "cell"
    )
    j = probes.join(n, "cell").filter(F.col("neighbor_id") != F.col("query_id"))
    j = j.withColumn("cos_sim", F.round(F.expr(DOT) / (F.col("qnrm") * F.col("nnrm")), 4))
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        j.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("query_id", "neighbor_id", "rank", "cos_sim", "cell")
    )


_KMEANS_K = 8
_KMEANS_ITERS = 3


def _kmeans_assign(e: DataFrame, cents: list[tuple[int, list[float]]]) -> DataFrame:
    """Assign each vector to its nearest centroid with ZERO shuffle.

    Centroids are a driver-side list (k x dim floats — a few KB at any
    corpus size) folded into one literal array-of-arrays (Catalyst
    constant-folds it to a single Literal), so the per-row argmin is a
    pure array-HOF expression: no n x k crossJoin, no groupBy(vec_id)
    shuffle of n x k candidate rows — assignment is embarrassingly
    parallel and only the centroid-UPDATE aggregation in the training
    loop ever shuffles.  Values are bit-identical to the former
    broadcast-join + min_by plan: same left-fold squared distance per
    candidate, and array_position's first-match rule reproduces the
    smallest-cid tie-break (centroids are laid out in ascending cid
    order)."""
    order = sorted(cents)
    cvs = F.array(*[F.array(*[F.lit(float(x)) for x in vec]) for _, vec in order])
    cids = F.array(*[F.lit(int(cid)) for cid, _ in order])
    d2s = F.transform(
        cvs,
        lambda c: F.aggregate(
            F.zip_with(F.col("v"), c, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    # two-step select: d2s is a non-cheap HOF chain referenced three
    # times below — CollapseProject declines to inline non-cheap multi-use
    # aliases (SPARK-36718), so it is computed once per row
    staged = e.select("vec_id", "v", d2s.alias("d2s"))
    pos = F.array_position(F.col("d2s"), F.array_min("d2s")).cast("int")
    return staged.select(
        "vec_id",
        F.element_at(cids, pos).alias("cid"),
        F.array_min("d2s").alias("d2"),
        "v",
    )


def train_kmeans_centroids(
    e: DataFrame,
    k: int = _KMEANS_K,
    iters: int = _KMEANS_ITERS,
    seed_mod: int = 61,
) -> list[tuple[int, list[float]]]:
    """Lloyd's k-means training loop over a (vec_id, v) frame, returning
    the k x dim centroid list (a few KB — the only thing that ever crosses
    the driver per iteration).  Deterministic seeded init: every
    ``seed_mod``-th vector, first k.  Shared by embed_kmeans (the gate
    query) and sim_ann_ivf_trained (the codebook consumer)."""
    # persist the training projection: every Lloyd iteration (and the
    # seed scan) re-reads it — without the cache that is iters + 1 full
    # source scans + HOF recomputes of the identical frame
    e = e.select("vec_id", "v").persist()
    try:
        seeds = (
            e.filter(F.col("vec_id") % seed_mod == 0).orderBy("vec_id").limit(k).collect()
        )
        cents = [(i, list(r["v"])) for i, r in enumerate(seeds)]
        for _ in range(iters):
            assigned = _kmeans_assign(e, cents)
            rows = (
                assigned.select("cid", F.posexplode("v").alias("pos", "x"))
                .groupBy("cid", "pos")
                .agg(F.avg("x").alias("m"))
                .collect()
            )
            by_cid: dict[int, dict[int, float]] = {}
            for r in rows:
                by_cid.setdefault(r["cid"], {})[r["pos"]] = r["m"]
            cents = [
                (cid, [dims[p] for p in sorted(dims)]) for cid, dims in sorted(by_cid.items())
            ]
        return cents
    finally:
        e.unpersist()


def embed_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative Lloyd's k-means over the embedding column — the canonical
    Spark iterative-algorithm shape: per-iteration work is fully
    distributed (assign = broadcast join + min_by, update = elementwise
    mean via posexplode), only the k x dim centroid table (a few KB)
    returns to the driver between iterations.  Deterministic seeded init
    (every 61st vector).  Rows-only check; invariants (inertia decreases,
    assignments are nearest-centroid) pinned in tests/test_textops.py.
    """
    e = emb_norm(spark, sf_dir).select("vec_id", "v")
    final = _kmeans_assign(e, train_kmeans_centroids(e))
    return final.groupBy("cid").agg(
        F.count("*").alias("n_vecs"),
        F.round(F.sum("d2"), 3).alias("inertia"),
    )


def embedding_candidate_pairs(e: DataFrame, n_bands: int = SIGNLSH_BANDS,
                              n_bits: int = SIGNLSH_BITS, dim: int = EMB_DIM) -> DataFrame:
    """Distinct (vec_a < vec_b) candidate pairs sharing at least one
    sign-LSH band key — the multi-band self-join front end shared by
    dedup_embedding_cosine and the planted-near-dup recall pytest."""
    banded = signlsh_band_keys(e, n_bands, n_bits, dim).select("vec_id", "band_key")
    a = banded.select(F.col("vec_id").alias("vec_a"), "band_key")
    b = banded.select(F.col("vec_id").alias("vec_b"), "band_key")
    return (
        a.join(b, "band_key")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: cos >= tau with candidates from the
    multi-band random-hyperplane sign-LSH (union of band-key equality
    joins — the scale path: a true near-dup pair at production tau~0.95
    shares an 8-bit band with p~0.43, so missing all 8 bands has p<2%, and
    the bit count scales with corpus size via recommended_signlsh_bits).
    tau=0.3 here because the synthetic test embeddings contain no true
    near-duplicates (max pairwise cos ~ 0.45) — production dedup runs
    tau~0.95+ with identical mechanics.  Output (vec_a, vec_b, cos_sim)."""
    e = emb_norm(spark, sf_dir)
    cand = embedding_candidate_pairs(e)
    av = e.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("qv"), F.col("nrm").alias("qnrm"))
    bv = e.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("nv"), F.col("nrm").alias("nnrm"))
    j = cand.join(av, "vec_a").join(bv, "vec_b")
    j = j.withColumn("cos_sim", F.round(F.expr(DOT) / (F.col("qnrm") * F.col("nnrm")), 4))
    return j.filter(F.col("cos_sim") >= 0.3).select("vec_a", "vec_b", "cos_sim")


_SEMDEDUP_TAU = 0.3


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    assign every embedding to its max-cosine coarse cell, then look for
    near-duplicates ONLY within a cell — a vector is dropped when a
    higher-priority (smaller vec_id) cell-mate sits at cos >= tau.
    Output (vec_id, cell, n_dups, keep) — the per-vector keep decision a
    curation pipeline applies, not just the pair list.

    Scale: assignment is a literal-codebook HOF projection (cell_top —
    zero shuffle, no n x k crossJoin); the only shuffle keys on cell, and
    the pair join is cell-bucketed, so per-reducer work is O(cell_size²),
    never O(n²).  In production k grows with the corpus (k ~ n /
    target_cell_size, codebook from train_kmeans_centroids exactly as
    sim_ann_ivf_trained composes it), which bounds cell_size — the same
    knob the SemDeDup paper turns.  The gate uses the first-16-vector
    stand-in codebook so the oracle can re-derive it in SQL; tau=0.3
    because the synthetic test embeddings hold no true near-dups
    (max pairwise cos ~0.45) — production runs tau~0.95+ unchanged.
    dedup_semantic_trained below is the production composition (trained
    cells), sharing this body."""
    e = emb_norm(spark, sf_dir)
    return _semantic_keep(e, _stand_in_cells(e))


def dedup_semantic_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_semantic with a genuinely TRAINED coarse quantizer
    (train_kmeans_centroids via trained_coarse) — the production
    composition the SemDeDup paper actually runs: k-means cells bound
    per-cell occupancy by construction, where first-k stand-in cells can
    skew hot (a hot cell makes the cell-bucketed self-join quadratic in
    ITS size — the straggler-reducer failure at 100 TB).  Rows-only
    (k-means is iterative); pinned in pytest: planted duplicates are
    flagged under ANY cell assignment (identical vectors always share a
    cell), and occupancy is more BALANCED than the stand-in's (smaller
    max/min spread — the quantity that bounds the worst reducer)."""
    e = emb_norm(spark, sf_dir)
    return _semantic_keep(e, trained_coarse(e, seed_mod=61))


def _semantic_keep(
    e: DataFrame, cents: list[tuple[int, list[float], float]]
) -> DataFrame:
    """The SemDeDup search body shared by the oracle-gated stand-in-cell
    op and the trained-cell production op: cell assignment, cell-bucketed
    LEFT self-join, per-vector keep decision."""
    assigned = cell_top(e, cents, 1).select(
        "vec_id",
        F.element_at(F.col("top"), 1).getField("cid").alias("cell"),
        "v",
        "nrm",
    )
    # LEFT join + null-skipping count(vec_b): every vector survives into
    # the aggregate, so `assigned` is consumed exactly twice (the two
    # inherent self-join legs) — no third scan/recompute for a final
    # "join the counts back" pass
    a = assigned.select(
        F.col("vec_id").alias("vec_a"),
        F.col("cell").alias("cell_a"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
    )
    b = assigned.select(
        F.col("vec_id").alias("vec_b"),
        F.col("cell").alias("cell_b"),
        F.col("v").alias("nv"),
        F.col("nrm").alias("nnrm"),
    )
    cos = F.round(F.expr(DOT) / (F.col("qnrm") * F.col("nnrm")), 4)
    cond = (
        (F.col("cell_a") == F.col("cell_b"))
        & (F.col("vec_b") < F.col("vec_a"))
        & (cos >= F.lit(_SEMDEDUP_TAU))
    )
    return (
        a.join(b, cond, "left")
        .groupBy(F.col("vec_a").alias("vec_id"), F.col("cell_a").alias("cell"))
        .agg(F.count("vec_b").cast("bigint").alias("n_dups"))
        .select(
            "vec_id",
            "cell",
            "n_dups",
            (F.col("n_dups") == 0).cast("int").alias("keep"),
        )
    )


def embed_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding stats (count + mean L2 norm)."""
    e = emb_norm(spark, sf_dir)
    return e.groupBy("label").agg(
        F.count("*").alias("n_vecs"), F.round(F.avg("nrm"), 4).alias("avg_norm")
    )


# --- model-based quality scoring (applying a trained classifier) -----------

_QS_SEED = 0x0C1A55


def _quality_classifier_weights(dim: int = 64, seed: int = _QS_SEED):
    """Deterministic stand-in for a trained linear quality classifier:
    (bias, weights), each an exact thousandth in [-1, 1].  In production
    these literals are the artifact ``train_embed_lr`` emits; the
    engine-side plan — literal weight array, one JVM projection pass,
    zero UDFs — is identical whatever the values, so the gate pins the
    full scoring path with values both engines can reproduce."""
    x = seed & 0x7FFFFFFF
    out = []
    for _ in range(dim + 1):
        x = (1103515245 * x + 12345) & 0x7FFFFFFF
        out.append((((x >> 8) % 2001) - 1000) / 1000.0)
    return out[0], out[1:]


def embed_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide model-based quality filter: score every embedding
    against a trained linear classifier (dot + bias → sigmoid) and flag
    keeps — the stage that applies ``train_embed_lr``'s artifact to the
    whole corpus (CCNet/RefinedWeb-style model-based filtering).

    Parity: the margin folds left-to-right from 0D (the proven
    DOT/SQL_DOT pattern), so it is bit-identical in DuckDB; the
    transcendental sigmoid is fed the margin ROUNDED to 6 decimals so
    both engines call exp() on identical doubles; ``keep`` decides on the
    unrounded margin's sign (an exact comparison of bit-identical
    values — no rounding-boundary risk).

    Scale: one scan, one JVM projection — the dim-sized weight vector
    constant-folds to a single array Literal (never a per-dim expression
    chain; see sql_darray) — no shuffle, no UDF, embarrassingly parallel
    at 10^12 rows."""
    b, w = _quality_classifier_weights()
    e = read_emb(spark, sf_dir).select(
        "vec_id",
        "label",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    )
    margin = (
        F.expr(
            f"aggregate(zip_with(v, {sql_darray(w)}, (x, y) -> x * y), "
            "0D, (acc, v) -> acc + v)"
        )
        + F.lit(float(b))
    )
    e = e.withColumn("margin", margin)
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-F.round(F.col("margin"), 6)))
    return e.select(
        "vec_id",
        "label",
        F.round(score, 4).alias("quality_score"),
        (F.col("margin") >= 0).cast("int").alias("keep"),
    )


_PCA_COMPONENTS = 2
_PCA_ITERS = 20  # λ2/λ1 ≈ 0.93 on the test cloud → <1% eigenvalue error


def embed_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k principal components of the embedding cloud by distributed
    power iteration with deflation — the spectral little sibling of the
    k-means and LR loops: each iteration is ONE aggregate job computing
    s = Σ (x·w)·x as dim plain JVM sum aggregates (`sum(dot * x[j])`),
    with the current direction shipped as a constant-folded literal
    array.  Deflation (orthogonalize against found components) and
    normalization are driver-side on dim-sized vectors.

    Returns one row per component: the Rayleigh-quotient eigenvalue and
    its explained-variance share.  Rows-only gate (iterative +
    sqrt-normalized); pinned against numpy.linalg.eigh in pytest.

    Scale: dim+1 doubles cross the shuffle per partition and the driver
    per iteration; the centered projection is persisted once.  The
    centering aggregate is the same posexplode (dim)-keyed pass as
    train_embed_lr's standardization.
    """
    e, dim, stats, n = embed_centered_stats(spark, sf_dir)
    mu = [stats[j][0] for j in range(dim)]
    total_var = sum(stats[j][1] for j in range(dim))
    ex = e.select(
        F.expr(f"zip_with(x0, {sql_darray(mu)}, (a, m) -> a - m)").alias("x")
    ).persist()
    try:
        comps: list[list[float]] = []
        out = []
        for c in range(_PCA_COMPONENTS):
            # deterministic start: LCG Rademacher signs (the sign-LSH trick),
            # then deflate so the start is already orthogonal to found comps
            state = 0x9E3779B9 * (c + 1) & 0xFFFFFFFF
            w = []
            for _ in range(dim):
                state = (1664525 * state + 1013904223) & 0xFFFFFFFF
                w.append(1.0 if state & 0x80000000 else -1.0)
            lam = 0.0
            for _ in range(_PCA_ITERS):
                for prev in comps:
                    d = sum(a * b for a, b in zip(w, prev))
                    w = [a - d * b for a, b in zip(w, prev)]
                nrm = sum(a * a for a in w) ** 0.5
                w = [a / nrm for a in w]
                dot = F.expr(
                    f"aggregate(zip_with(x, {sql_darray(w)}, (a, b) -> a * b), "
                    "0D, (acc, v) -> acc + v)"
                )
                row = (
                    ex.select("x", dot.alias("d"))
                    .agg(
                        F.sum(F.col("d") * F.col("d")).alias("ray"),
                        *[
                            F.sum(F.expr(f"d * x[{j}]")).alias(f"s{j}")
                            for j in range(dim)
                        ],
                    )
                    .collect()[0]
                )
                lam = row["ray"] / n
                w = [row[f"s{j}"] for j in range(dim)]
            # final orthonormalize for the report
            for prev in comps:
                d = sum(a * b for a, b in zip(w, prev))
                w = [a - d * b for a, b in zip(w, prev)]
            nrm = sum(a * a for a in w) ** 0.5
            w = [a / nrm for a in w]
            comps.append(w)
            out.append((c, round(lam, 6), round(lam / total_var, 6)))
        return spark.createDataFrame(
            out, "component: int, eigenvalue: double, explained_frac: double"
        )
    finally:
        ex.unpersist()


# Sign-LSH oracle legs: the SAME hyperplane literals render into DuckDB
# syntax; MATERIALIZED CTEs compute the band keys exactly once (DuckDB
# would otherwise inline the CTE into every join reference and re-evaluate
# the projections ~16x); candidates come from one self-join on the
# unnested band_key — structurally the Spark plan's mirror.

_SQL_SIGNLSH_CTES = f"""
        e AS MATERIALIZED ({SQL_EMB_NORM}),
        eb AS (SELECT vec_id, {_duck_signbits_expr(SIGNLSH_BANDS, SIGNLSH_BITS, EMB_DIM)} AS sb FROM e),
        banded AS MATERIALIZED (
            SELECT vec_id, unnest({_duck_bandkeys_expr(SIGNLSH_BANDS, SIGNLSH_BITS)}) AS band_key FROM eb
        )
"""

_SQL_SIM_ANN_LSH = f"""
        WITH {_SQL_SIGNLSH_CTES},
        q AS (SELECT vec_id, band_key FROM banded WHERE vec_id % 50 = 0),
        cand AS (
            SELECT DISTINCT q.vec_id AS query_id, n.vec_id AS neighbor_id
            FROM q JOIN banded n ON q.band_key = n.band_key AND n.vec_id <> q.vec_id
        ),
        p AS (
            SELECT c.query_id, c.neighbor_id,
                   round({SQL_DOT.replace('qv', 'a.v').replace('nv', 'b.v')}
                         / (a.nrm * b.nrm), 4) AS cos_sim
            FROM cand c
            JOIN e a ON a.vec_id = c.query_id
            JOIN e b ON b.vec_id = c.neighbor_id
        )
        SELECT query_id, neighbor_id, rank, cos_sim FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
            FROM p
        ) WHERE rank <= 3
"""

_SQL_DEDUP_EMB_COSINE = f"""
        WITH {_SQL_SIGNLSH_CTES},
        cand AS (
            SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM banded a JOIN banded b ON a.band_key = b.band_key AND a.vec_id < b.vec_id
        )
        SELECT vec_a, vec_b, cos_sim FROM (
            SELECT c.vec_a, c.vec_b,
                   round({SQL_DOT.replace('qv', 'a.v').replace('nv', 'b.v')}
                         / (a.nrm * b.nrm), 4) AS cos_sim
            FROM cand c
            JOIN e a ON a.vec_id = c.vec_a
            JOIN e b ON b.vec_id = c.vec_b
        ) WHERE cos_sim >= 0.3
"""

ORACLES: dict[str, str] = {
    "sim_cosine_topk": f"""
        WITH e AS ({SQL_EMB_NORM}),
        q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM e WHERE vec_id % 50 = 0),
        p AS (
            SELECT q.query_id, e.vec_id AS neighbor_id,
                   round({SQL_DOT.replace('nv', 'e.v')} / (q.qnrm * e.nrm), 4) AS cos_sim
            FROM q, e WHERE e.vec_id <> q.query_id
        )
        SELECT query_id, neighbor_id, rank, cos_sim FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
            FROM p
        ) WHERE rank <= 5
    """,
    "sim_ann_lsh": _SQL_SIM_ANN_LSH,
    "sim_ann_ivf": f"""
        WITH e AS ({SQL_EMB_NORM}),
        cent AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM e WHERE vec_id < 16),
        scored AS (
            SELECT e.vec_id, e.v, e.nrm, cent.cent_id,
                   round(list_sum(list_transform(range(1, len(e.v) + 1), i -> e.v[i] * cent.cv[i]))
                         / (e.nrm * cent.cnrm), 4) AS ccos
            FROM e, cent
        ),
        ranked AS (
            SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crank
            FROM scored
        ),
        assigned AS (SELECT vec_id, cent_id AS cell, v, nrm FROM ranked WHERE crank = 1),
        probes AS (
            SELECT vec_id AS query_id, v AS qv, nrm AS qnrm, cent_id AS cell
            FROM ranked WHERE crank <= 2 AND vec_id % 50 = 0
        ),
        p AS (
            SELECT probes.query_id, a.vec_id AS neighbor_id, probes.cell,
                   round(list_sum(list_transform(range(1, len(probes.qv) + 1), i -> probes.qv[i] * a.v[i]))
                         / (probes.qnrm * a.nrm), 4) AS cos_sim
            FROM probes JOIN assigned a ON probes.cell = a.cell AND a.vec_id <> probes.query_id
        )
        SELECT query_id, neighbor_id, rank, cos_sim, cell FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
            FROM p
        ) WHERE rank <= 3
    """,
    "dedup_embedding_cosine": _SQL_DEDUP_EMB_COSINE,
    # same first-16 stand-in codebook + round-to-4 assignment CTEs as the
    # proven sim_ann_ivf oracle; MATERIALIZED pins assigned to compute once
    # (DuckDB re-inlines plain CTEs per reference)
    "dedup_semantic": f"""
        WITH e AS ({SQL_EMB_NORM}),
        cent AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM e WHERE vec_id < 16),
        scored AS (
            SELECT e.vec_id, e.v, e.nrm, cent.cent_id,
                   round(list_sum(list_transform(range(1, len(e.v) + 1), i -> e.v[i] * cent.cv[i]))
                         / (e.nrm * cent.cnrm), 4) AS ccos
            FROM e, cent
        ),
        ranked AS (
            SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crank
            FROM scored
        ),
        assigned AS MATERIALIZED (SELECT vec_id, cent_id AS cell, v, nrm FROM ranked WHERE crank = 1),
        p AS (
            SELECT a.vec_id AS vec_a,
                   round(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]))
                         / (a.nrm * b.nrm), 4) AS cos_sim
            FROM assigned a JOIN assigned b ON a.cell = b.cell AND b.vec_id < a.vec_id
        ),
        d AS (
            SELECT vec_a AS vec_id, count(*) AS n_dups FROM p
            WHERE cos_sim >= {_SEMDEDUP_TAU} GROUP BY vec_a
        )
        SELECT a.vec_id, a.cell,
               CAST(coalesce(d.n_dups, 0) AS BIGINT) AS n_dups,
               CAST(d.n_dups IS NULL AS INT) AS keep
        FROM assigned a LEFT JOIN d USING (vec_id)
    """,
    "embed_label_stats": f"""
        SELECT label, count(*) AS n_vecs, round(avg(nrm), 4) AS avg_norm
        FROM ({SQL_EMB_NORM}) GROUP BY label
    """,
    # same LCG weight literals as the Spark side; the dot folds
    # left-to-right from 0 (the DOT/SQL_DOT pattern) so the margin is
    # bit-identical, and exp() sees the 6-decimal-rounded margin in both
    # engines (see embed_quality_score)
    "embed_quality_score": f"""
        WITH e AS (
            SELECT vec_id, label,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ), m AS (
            SELECT vec_id, label,
                   list_sum(list_transform(range(1, 65),
                       i -> v[i] * ([{", ".join("%r" % c for c in _quality_classifier_weights()[1])}])[i]))
                   + {_quality_classifier_weights()[0]!r} AS margin
            FROM e
        )
        SELECT vec_id, label,
               round(1.0 / (1.0 + exp(-round(margin, 6))), 4) AS quality_score,
               CAST(margin >= 0 AS INT) AS keep
        FROM m
    """,
}

QUERIES = {
    "sim_cosine_topk": sim_cosine_topk,
    "sim_ann_lsh": sim_ann_lsh,
    "sim_ann_ivf": sim_ann_ivf,
    "sim_ann_ivf_trained": sim_ann_ivf_trained,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "dedup_semantic": dedup_semantic,
    "dedup_semantic_trained": dedup_semantic_trained,
    "embed_label_stats": embed_label_stats,
    "embed_quality_score": embed_quality_score,
    "embed_kmeans": embed_kmeans,
    "embed_pca": embed_pca,
}
