"""The curation composition: every batch filter family composed into one
training-order decision, as one Catalyst plan each and one DuckDB query
each.

``curate_parts`` is the single definition of the base composition —
repetition quality (``text_gopher_quality``) ∧ near-dup cluster
survivorship (``dedup_cluster_keep_best`` over ``dedup_clusters``) —
shared with the ``run_curate`` CLI.  Every further family is a *leg*: a
keep-set builder ``(spark, sf_dir, docs) -> (doc_id)`` that lives in its
family's module (``lm_keep_ids``, ``dsir_keep_ids``, ``decon_keep_ids``)
and that ``run_curate`` composes through the same builders, so the
operational path can never drift from the oracled one.

Scale: every leg consumes the ONE shared tokenized checkpoint (tokenize
once, not per leg) and keeps its own documented plan shape; the
composition joins on doc_id only — the fat text column never crosses a
join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .corpus import SQL_TOKS, tokenized_docs
from .decon_index import DECON_BENCH_MOD, DECON_JACC_TAU, decon_keep_ids
from .docorder import md5_shuffle_rank
from .dsir_model import SQL_DSIR_CTES, dsir_keep_ids
from .textdedup import SQL_JACCARD_PAIRS, dedup_cluster_keep_best, dedup_clusters
from .textquality import SQL_GOPHER_CTES, SQL_PPL_CTES, lm_keep_ids, text_gopher_quality


def curate_parts(
    spark: SparkSession,
    sf_dir: str,
    clusters: DataFrame | None = None,
    docs: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The single definition of the curation composition, shared by
    ``corpus_curate`` (the gate query) and the ``run_curate`` CLI so the
    operational path can never drift from the oracled one.  Returns
    ``(passed, dropped_dup, ranked)`` so the CLI can persist + count the
    intermediate stages for its metrics line.

    ``clusters`` overrides the near-dup pair source (e.g. MinHash-LSH
    candidates from ``dedup_minhash_clusters``); default is the exact
    df-capped shingle join via ``dedup_clusters``.  ``docs`` optionally
    supplies the shared tokenized checkpoint (created here when absent).
    """
    if docs is None:
        docs = tokenized_docs(spark, sf_dir)
    passed = text_gopher_quality(spark, sf_dir, docs=docs).filter(
        F.col("gopher_pass") == 1
    ).select("doc_id", "n_tokens")
    # ONE connected-components fixpoint feeds both the membership test and
    # the survivor choice: the CC driver loop is the most expensive stage
    # here, and dedup_cluster_keep_best would otherwise re-run it from
    # scratch (the labels frame is localCheckpointed, so reuse is free)
    if clusters is None:
        clusters = dedup_clusters(spark, sf_dir, docs=docs).select(
            "doc_id", "cluster_id"
        )
    keepers = dedup_cluster_keep_best(
        spark, sf_dir, clusters=clusters, docs=docs
    ).select(F.col("keep_doc_id").alias("doc_id"))
    # clustered docs that are NOT their cluster's survivor get dropped
    dropped = clusters.join(keepers, "doc_id", "left_anti").select("doc_id")
    curated = passed.join(dropped, "doc_id", "left_anti")
    return passed, dropped, md5_shuffle_rank(curated, "n_tokens")


def _curated(spark: SparkSession, sf_dir: str, *legs) -> DataFrame:
    """``curate_parts``' survivors restricted to every leg's keep set,
    then the deterministic training-order rank.  All legs consume the
    same tokenized checkpoint as the base composition."""
    docs = tokenized_docs(spark, sf_dir)
    passed, dropped, _ranked = curate_parts(spark, sf_dir, docs=docs)
    curated = passed.join(dropped, "doc_id", "left_anti")
    for keep_ids in legs:
        curated = curated.join(keep_ids(spark, sf_dir, docs=docs), "doc_id")
    return md5_shuffle_rank(curated, "n_tokens")


def corpus_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED curation pipeline a training run actually executes, as
    one Catalyst plan: repetition-quality filter (gopher_pass) ∧ near-dup
    cluster survivorship (keep-best) → deterministic training-order rank.

    Scale: each leg keeps its own documented plan shape (doc_id-keyed
    aggregates, CC loop, broadcast offsets); the composition joins on
    doc_id only — the fat text column is consumed inside each leg and
    never crosses a join.
    """
    return _curated(spark, sf_dir)


def corpus_curate_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation decision with EVERY batch filter family composed, as
    one Catalyst plan: repetition quality (gopher_pass) ∧ LM perplexity
    (drop the worst tercile — CCNet's head/middle selection) ∧ near-dup
    cluster survivorship → deterministic training-order rank.  The
    end-to-end CCNet/Gopher-style pipeline, value-verified against a
    single DuckDB query.

    Scale: the three filter legs are each doc_id-keyed aggregates over
    their own scan (AQE reuses the shared tokenize exchanges where the
    shapes coincide); the composition joins on doc_id only — fat text
    never crosses a join."""
    return _curated(spark, sf_dir, lm_keep_ids)


def corpus_curate_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """corpus_curate_full with the DSIR importance gate composed in — the
    curation decision with every batch filter family this engine ships:
    repetition quality (gopher_pass) ∧ LM perplexity (drop the worst
    tercile) ∧ near-dup cluster survivorship ∧ DSIR target-leaning
    (rounded log_w > 0, Xie et al.) → deterministic training-order rank.
    The ``run_curate --lm-filter --dsir-filter`` CLI composes the same
    legs operationally; this op value-verifies the four-way decision as
    ONE DuckDB query.

    Scale: identical to corpus_curate_full plus DSIR's two bounded legs
    (≤B-bucket LM aggregate, broadcast λ, doc-keyed sum); all four filter
    legs consume the ONE shared tokenized checkpoint, and the composition
    joins on doc_id only — fat text never crosses a join."""
    return _curated(spark, sf_dir, lm_keep_ids, dsir_keep_ids)


def corpus_curate_decon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """corpus_curate_dsir with the DECONTAMINATION gate composed in — the
    complete production curation decision: repetition quality ∧ LM
    perplexity tercile ∧ near-dup cluster survivorship ∧ DSIR
    target-leaning ∧ benchmark hygiene.  The last family drops (a) the
    held-out benchmark split itself — eval items are never training
    data — (b) any doc sharing a verbatim 5-gram with it
    (decontaminate_ngram), and (c) any near-dup paraphrase of it at the
    shingle-Jaccard bar (decontaminate_jaccard).  Five filter families,
    value-verified as ONE DuckDB query.

    Scale: identical to corpus_curate_dsir plus the two decon legs — a
    broadcast 5-gram semi-join and the df-capped, broadcast-bench
    Jaccard probe; all six legs consume the ONE shared tokenized
    checkpoint, and the composition joins on doc_id only — fat text
    never crosses a join."""
    return _curated(spark, sf_dir, lm_keep_ids, dsir_keep_ids, decon_keep_ids)


# CC-closure + keep-best "dropped docs" CTE chain, shared by the
# corpus_curate and corpus_curate_full oracles (assumes a preceding
# WITH RECURSIVE {SQL_JACCARD_PAIRS} CTE named `pairs`)
_SQL_CURATE_DROP_CTES = f"""und AS (
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
        ), cscored AS (
            SELECT doc_id,
                   least(len({SQL_TOKS}) / 64.0, 1.0)
                   * (0.5 + 0.5 * (length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                                   * 1.0 / greatest(length(text), 1)))
                   * (1.0 - 0.5 * (len(list_filter({SQL_TOKS},
                                       w -> w IN ('the','a','and','of','to','in','is')))
                                   * 1.0 / greatest(len({SQL_TOKS}), 1))) AS q
            FROM documents
        ), cranked AS (
            SELECT l.cluster_id, s.doc_id,
                   row_number() OVER (PARTITION BY l.cluster_id
                                      ORDER BY s.q DESC, s.doc_id) AS rn
            FROM lab l JOIN cscored s USING (doc_id)
        ), dropped AS (
            SELECT doc_id FROM cranked WHERE rn > 1
        )"""


ORACLES: dict[str, str] = {
    "corpus_curate": f"""
        WITH RECURSIVE {SQL_JACCARD_PAIRS},
        {_SQL_CURATE_DROP_CTES}, {SQL_GOPHER_CTES},
        curated AS (
            SELECT doc_id, n_tokens FROM gj
            WHERE n_tokens >= 8 AND top_frac <= 0.2 AND dup_frac <= 0.3
              AND doc_id NOT IN (SELECT doc_id FROM dropped)
        )
        SELECT doc_id, n_tokens,
               md5('seed42:' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
               row_number() OVER (ORDER BY md5('seed42:' || CAST(doc_id AS VARCHAR)), doc_id)
                   AS shuffle_rank
        FROM curated
    """,
    # corpus_curate + the LM-perplexity tercile leg (drop 'tail', i.e.
    # keep avg_logloss <= p66 on the ROUNDED score) — the full composed
    # pipeline verified as ONE DuckDB query
    "corpus_curate_full": f"""
        WITH RECURSIVE {SQL_JACCARD_PAIRS},
        {_SQL_CURATE_DROP_CTES}, {SQL_GOPHER_CTES},
        {SQL_PPL_CTES},
        ppl_ok AS (
            SELECT s.doc_id FROM ppl_scored s, ppl_cuts
            WHERE s.avg_logloss <= ppl_cuts.p66
        ),
        curated AS (
            SELECT doc_id, n_tokens FROM gj
            WHERE n_tokens >= 8 AND top_frac <= 0.2 AND dup_frac <= 0.3
              AND doc_id IN (SELECT doc_id FROM ppl_ok)
              AND doc_id NOT IN (SELECT doc_id FROM dropped)
        )
        SELECT doc_id, n_tokens,
               md5('seed42:' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
               row_number() OVER (ORDER BY md5('seed42:' || CAST(doc_id AS VARCHAR)), doc_id)
                   AS shuffle_rank
        FROM curated
    """,
    # corpus_curate_full + the DSIR importance gate (keep rounded
    # log_w > 0) — the four-filter-family composition verified as ONE
    # DuckDB query
    "corpus_curate_dsir": f"""
        WITH RECURSIVE {SQL_JACCARD_PAIRS},
        {_SQL_CURATE_DROP_CTES}, {SQL_GOPHER_CTES},
        {SQL_PPL_CTES},
        {SQL_DSIR_CTES},
        ppl_ok AS (
            SELECT s.doc_id FROM ppl_scored s, ppl_cuts
            WHERE s.avg_logloss <= ppl_cuts.p66
        ),
        dsir_ok AS (
            SELECT doc_id FROM dsir_scored WHERE log_w > 0
        ),
        curated AS (
            SELECT doc_id, n_tokens FROM gj
            WHERE n_tokens >= 8 AND top_frac <= 0.2 AND dup_frac <= 0.3
              AND doc_id IN (SELECT doc_id FROM ppl_ok)
              AND doc_id IN (SELECT doc_id FROM dsir_ok)
              AND doc_id NOT IN (SELECT doc_id FROM dropped)
        )
        SELECT doc_id, n_tokens,
               md5('seed42:' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
               row_number() OVER (ORDER BY md5('seed42:' || CAST(doc_id AS VARCHAR)), doc_id)
                   AS shuffle_rank
        FROM curated
    """,
    "corpus_curate_decon": f"""
        WITH RECURSIVE {SQL_JACCARD_PAIRS},
        {_SQL_CURATE_DROP_CTES}, {SQL_GOPHER_CTES},
        {SQL_PPL_CTES},
        {SQL_DSIR_CTES},
        ppl_ok AS (
            SELECT s.doc_id FROM ppl_scored s, ppl_cuts
            WHERE s.avg_logloss <= ppl_cuts.p66
        ),
        dsir_ok AS (
            SELECT doc_id FROM dsir_scored WHERE log_w > 0
        ),
        -- decon legs reuse the shared toks / capped-sh / sizes CTEs
        dn_sh AS (
            SELECT doc_id, unnest(list_distinct(list_transform(range(1, greatest(len(arr) - 3, 1)),
                   i -> arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] || ' ' || arr[i+3] || ' ' || arr[i+4]))) AS sh
            FROM toks WHERE len(arr) >= 5
        ),
        dn_bad AS (
            SELECT DISTINCT doc_id FROM dn_sh
            WHERE doc_id % {DECON_BENCH_MOD} <> 0
              AND sh IN (SELECT sh FROM dn_sh WHERE doc_id % {DECON_BENCH_MOD} = 0)
        ),
        dj_bad AS (
            SELECT DISTINCT i.doc_id
            FROM (
                SELECT t.doc_id, b.doc_id AS bench_id, count(*) AS n_inter
                FROM sh t JOIN sh b USING (sh)
                WHERE t.doc_id % {DECON_BENCH_MOD} <> 0
                  AND b.doc_id % {DECON_BENCH_MOD} = 0
                GROUP BY t.doc_id, b.doc_id
            ) i
            JOIN sizes sa ON sa.doc_id = i.doc_id
            JOIN sizes sb ON sb.doc_id = i.bench_id
            WHERE i.n_inter * 1.0 / (sa.n_sh + sb.n_sh - i.n_inter) >= {DECON_JACC_TAU}
        ),
        curated AS (
            SELECT doc_id, n_tokens FROM gj
            WHERE n_tokens >= 8 AND top_frac <= 0.2 AND dup_frac <= 0.3
              AND doc_id % {DECON_BENCH_MOD} <> 0
              AND doc_id IN (SELECT doc_id FROM ppl_ok)
              AND doc_id IN (SELECT doc_id FROM dsir_ok)
              AND doc_id NOT IN (SELECT doc_id FROM dropped)
              AND doc_id NOT IN (SELECT doc_id FROM dn_bad)
              AND doc_id NOT IN (SELECT doc_id FROM dj_bad)
        )
        SELECT doc_id, n_tokens,
               md5('seed42:' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
               row_number() OVER (ORDER BY md5('seed42:' || CAST(doc_id AS VARCHAR)), doc_id)
                   AS shuffle_rank
        FROM curated
    """,
}

QUERIES = {
    "corpus_curate": corpus_curate,
    "corpus_curate_full": corpus_curate_full,
    "corpus_curate_dsir": corpus_curate_dsir,
    "corpus_curate_decon": corpus_curate_decon,
}
