"""Training-data op tests: sketch ops pinned against their exact
counterparts (MinHash-LSH vs exact Jaccard, SimHash invariants), and the
oracled ops cross-checked against DuckDB at sf0.001 — the same comparison
the driver runs at sf0.01."""

from __future__ import annotations

import duckdb
import pytest

SF = "/root/testdata/sf0.001"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
    return con


def _norm(v):
    import datetime, math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 9))
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return str(v)


def _rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def _oracle_names():
    import __spark_entry__ as e

    return sorted(e.oracle_sql())


@pytest.mark.parametrize("name", _oracle_names())
def test_query_matches_duckdb_oracle(spark, duck, name):
    import __spark_entry__ as e

    sdf = e.queries()[name](spark, SF)
    srows = sdf.collect()
    drel = duck.sql(e.oracle_sql()[name])
    drows = drel.fetchall()
    assert sorted(sdf.columns) == sorted(drel.columns)
    assert len(srows) == len(drows)
    assert _rowset(sdf.columns, [tuple(r) for r in srows]) == _rowset(drel.columns, drows)


def test_minhash_lsh_vs_exact_jaccard(spark):
    """LSH must find every high-similarity pair (j ≥ 0.9 ⇒ P(miss) ≈ 2e-3)
    and report only verified pairs (subset of exact ≥ 0.5)."""
    from pdfparse_spark.pipeline.textdedup import dedup_minhash_lsh, dedup_ngram_jaccard

    exact = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in dedup_ngram_jaccard(spark, SF).collect()}
    lsh = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in dedup_minhash_lsh(spark, SF).collect()}
    assert set(lsh) <= set(exact), "LSH reported an unverified pair"
    high = {p for p, j in exact.items() if j >= 0.9}
    assert high <= set(lsh), "LSH missed a near-certain duplicate pair"
    for p in lsh:
        assert lsh[p] == exact[p]  # verification recomputes the same jaccard


def test_simhash_properties(spark, tmp_path):
    """Identical texts → hamming 0; unrelated texts → no pair ≤ 3."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                "alpha beta gamma delta epsilon zeta eta theta",
                "alpha beta gamma delta epsilon zeta eta theta",
                "one two three four five six seven eight nine ten",
            ],
            "lang": ["en"] * 3,
            "source": ["t"] * 3,
            "n_chars": [10, 10, 10],
        }
    )
    d = str(tmp_path)
    pdf.to_parquet(d + "/documents.parquet")
    from pdfparse_spark.pipeline.textdedup import dedup_simhash

    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in dedup_simhash(spark, d).collect()}
    assert pairs == {(1, 2): 0}


def test_langid_discriminates(spark, tmp_path):
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [
                "the cat sat on a mat and looked out of the window to the street",
                "der hund und die katze sind ein gutes team in das haus",
                "le chat et la souris regardent les oiseaux des arbres",
                "xyzzy plugh qwerty",
            ],
            "lang": ["?"] * 4,
            "source": ["t"] * 4,
            "n_chars": [10] * 4,
        }
    )
    d = str(tmp_path)
    pdf.to_parquet(d + "/documents.parquet")
    from pdfparse_spark.pipeline.textquality import text_langid

    got = {r["doc_id"]: r["lang_guess"] for r in text_langid(spark, d).collect()}
    assert got == {1: "en", 2: "de", 3: "fr", 4: "unknown"}


def test_tfidf_distinctive_term_wins(spark, tmp_path):
    """A term unique to one document must outrank terms every document
    shares (idf crushes corpus-wide vocabulary), and each doc yields
    exactly k ranked rows with rank starting at 1."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                "common words everywhere zebra common words everywhere",
                "common words everywhere common words everywhere",
                "common words everywhere common words everywhere",
            ],
            "lang": ["en"] * 3,
            "source": ["t"] * 3,
            "n_chars": [10] * 3,
        }
    )
    d = str(tmp_path)
    pdf.to_parquet(d + "/documents.parquet")
    from pdfparse_spark.pipeline.textquality import _TFIDF_TOPK, text_tfidf_topk

    rows = text_tfidf_topk(spark, d).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == {1, 2, 3}
    for doc_id, rs in by_doc.items():
        assert sorted(r["term_rank"] for r in rs) == list(range(1, _TFIDF_TOPK + 1))
        assert all(r["tfidf"] > 0 for r in rs)
    top1 = {r["term"] for r in by_doc[1] if r["term_rank"] == 1}
    assert top1 == {"zebra"}


def test_pps_sample_deterministic_and_clips_heavy(spark, tmp_path):
    """A doc holding ~all the corpus weight has p clipped at 1 — it must
    ALWAYS be sampled; and the draw is keyed by doc_id, so two runs select
    the identical row set (deterministic under retries)."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "doc_id": list(range(40)),
            "text": ["x"] * 40,
            "lang": ["en"] * 40,
            "source": ["t"] * 40,
            # doc 0 carries 10^6 of the ~10^6 + 39 total weight
            "n_chars": [1_000_000] + [1] * 39,
        }
    )
    d = str(tmp_path)
    pdf.to_parquet(d + "/documents.parquet")
    from pdfparse_spark.pipeline.docorder import docs_pps_sample

    got1 = sorted(r["doc_id"] for r in docs_pps_sample(spark, d).collect())
    got2 = sorted(r["doc_id"] for r in docs_pps_sample(spark, d).collect())
    assert got1 == got2
    assert 0 in got1


def test_token_chunks_tile_the_stream(spark):
    """The per-doc token intervals must tile [0, total_tokens) contiguously
    in shuffle order — no gaps, no overlaps — and every chunk span must be
    consistent with integer division by the chunk budget."""
    from pdfparse_spark.pipeline.docorder import _CHUNK_TOKENS, docs_token_chunks

    rows = sorted(docs_token_chunks(spark, SF).collect(), key=lambda r: r["shuffle_rank"])
    assert [r["shuffle_rank"] for r in rows] == list(range(1, len(rows) + 1))
    pos = 0
    for r in rows:
        assert r["tok_start"] == pos, "gap or overlap in the packed stream"
        assert r["tok_end"] == r["tok_start"] + r["n_tok"]
        pos = r["tok_end"]
        assert r["chunk_first"] == r["tok_start"] // _CHUNK_TOKENS
        last = max(r["tok_end"] - 1, r["tok_start"])
        assert r["chunk_last"] == last // _CHUNK_TOKENS
        assert r["n_chunks_spanned"] == r["chunk_last"] - r["chunk_first"] + 1 >= 1
    assert pos == sum(r["n_tok"] for r in rows)


def test_mix_rebalance_downsamples_toward_target(spark):
    """Strata above their target share shrink toward target_share * N;
    strata at/below target keep every doc (p clips at 1, no upsampling);
    and the summary is deterministic across runs."""
    from pdfparse_spark.pipeline.docorder import (
        _MIX_DENOM,
        _MIX_TARGETS,
        docs_mix_rebalance,
    )

    got1 = {r["lang"]: (r["n_docs"], r["n_kept"]) for r in docs_mix_rebalance(spark, SF).collect()}
    got2 = {r["lang"]: (r["n_docs"], r["n_kept"]) for r in docs_mix_rebalance(spark, SF).collect()}
    assert got1 == got2
    n_total = sum(n for n, _ in got1.values())
    for lang, (n_docs, n_kept) in got1.items():
        assert 0 <= n_kept <= n_docs
        p = min(1.0, _MIX_TARGETS[lang] / _MIX_DENOM * n_total / n_docs)
        if p == 1.0:
            assert n_kept == n_docs, f"{lang}: under-target stratum must keep all"
        else:
            # binomial(n_docs, p): allow 5 sigma around the mean
            mean = p * n_docs
            sigma = max((n_docs * p * (1 - p)) ** 0.5, 1.0)
            assert abs(n_kept - mean) <= 5 * sigma, (lang, n_kept, mean)


def test_ann_lsh_recall_vs_brute_force(spark):
    """Every ANN hit must be a true same-bucket neighbor with the exact
    cosine the brute-force path computes for that pair."""
    from pdfparse_spark.pipeline.embed import sim_ann_lsh, sim_cosine_topk

    brute = {(r["query_id"], r["neighbor_id"]): r["cos_sim"] for r in sim_cosine_topk(spark, SF).collect()}
    ann = [(r["query_id"], r["neighbor_id"], r["cos_sim"]) for r in sim_ann_lsh(spark, SF).collect()]
    assert len(ann) > 0
    for q, n, c in ann:
        if (q, n) in brute:
            assert brute[(q, n)] == c


def test_ivf_hits_agree_with_brute_force(spark):
    from pdfparse_spark.pipeline.embed import sim_ann_ivf, sim_cosine_topk

    brute = {(r["query_id"], r["neighbor_id"]): r["cos_sim"] for r in sim_cosine_topk(spark, SF).collect()}
    ivf = [(r["query_id"], r["neighbor_id"], r["cos_sim"]) for r in sim_ann_ivf(spark, SF).collect()]
    assert len(ivf) > 0
    for q, n, c in ivf:
        if (q, n) in brute:
            assert brute[(q, n)] == c


def test_embed_kmeans_invariants(spark):
    """Iterative k-means: all vectors assigned, k clusters, final inertia
    no worse than the seed assignment's, and every assignment actually is
    the nearest centroid (spot-checked via a one-step re-assignment)."""
    from pdfparse_spark.pipeline import embed as textops
    from pdfparse_spark.pipeline.corpus import emb_norm as _emb_norm
    from pdfparse_spark.pipeline.embed import _kmeans_assign, embed_kmeans

    import pyspark.sql.functions as F

    sf = "/root/testdata/sf0.01"
    out = embed_kmeans(spark, sf).collect()
    n_total = sum(r["n_vecs"] for r in out)
    assert n_total == _emb_norm(spark, sf).count()
    assert 1 < len(out) <= textops._KMEANS_K
    final_inertia = sum(r["inertia"] for r in out)

    # seed-assignment inertia (iteration 0) must be >= converged inertia
    e = _emb_norm(spark, sf).select("vec_id", "v")
    seeds = e.filter(F.col("vec_id") % 61 == 0).orderBy("vec_id").limit(textops._KMEANS_K).collect()
    cents = [(i, list(r["v"])) for i, r in enumerate(seeds)]
    seed_inertia = _kmeans_assign(e, cents).agg(F.sum("d2")).collect()[0][0]
    assert final_inertia <= seed_inertia + 1e-6


def test_shingle_df_cap_kills_hot_shingle_blowup(spark, tmp_path):
    """A boilerplate sentence shared by every doc would make the exact
    shingle self-join quadratic on those keys; the df cap drops it while
    keeping genuinely duplicated content pairs."""
    import pandas as pd
    from pdfparse_spark.pipeline import textdedup as textops

    boiler = "all rights reserved contact the site administrator for details"
    texts = [boiler + " unique payload %d alpha beta gamma delta " % i * 3 for i in range(28)]
    texts.append(texts[0])  # one true duplicate pair: (0, 28)
    pdf = pd.DataFrame(
        {
            "doc_id": list(range(len(texts))),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["t"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    )
    d = str(tmp_path)
    pdf.to_parquet(d + "/documents.parquet")

    # capped shingle table: no shingle exceeds the cap, boilerplate gone
    capped = textops._shingle_rows(spark, d, max_df=5)
    df_counts = capped.groupBy("sh").count().collect()
    assert df_counts and max(r["count"] for r in df_counts) <= 5
    uncapped_rows = textops._shingle_rows(spark, d).count()
    assert capped.count() < uncapped_rows

    # with the cap at production setting the true duplicate still pairs
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in
             textops.dedup_ngram_jaccard(spark, d).collect()}
    assert (0, 28) in pairs and pairs[(0, 28)] == 1.0


def test_jaccard_cap_is_noop_on_fixture_corpus(spark, monkeypatch):
    """On the test corpora no shingle reaches _MAX_SHINGLE_DF (max df 25 at
    sf0.1), so capped and uncapped pair sets are identical — the cap only
    changes behavior on pathological boilerplate."""
    from pdfparse_spark.pipeline import textdedup as textops

    capped = sorted(map(tuple, textops.dedup_ngram_jaccard(spark, SF).collect()))
    monkeypatch.setattr(textops, "_MAX_SHINGLE_DF", 1 << 40)
    uncapped = sorted(map(tuple, textops.dedup_ngram_jaccard(spark, SF).collect()))
    assert capped == uncapped


def test_approx_percentiles_within_band(spark):
    """approx_percentile (the 100 TB scale path) must sit within 5% of the
    exact per-group percentiles on the fixture corpus."""
    from pdfparse_spark.pipeline.textquality import (
        text_length_stats,
        text_length_stats_approx,
    )

    exact = {r["lang"]: (r["p50_chars"], r["p90_chars"])
             for r in text_length_stats(spark, SF).collect()}
    approx = {r["lang"]: (r["p50_chars"], r["p90_chars"])
              for r in text_length_stats_approx(spark, SF).collect()}
    assert set(exact) == set(approx)
    for lang in exact:
        for e, a in zip(exact[lang], approx[lang]):
            # exact percentile interpolates between elements; the sketch
            # returns a real element — allow the rank-resolution gap
            assert abs(a - e) <= max(0.05 * e, 2.0), (lang, e, a)


def test_signlsh_planted_neardup_recall(spark):
    """The multi-band random-hyperplane sign-LSH must surface planted
    near-duplicate pairs (cos ~ 0.97+) as band-key candidates while
    examining far fewer pairs than the O(n^2) cross join would — the
    100 TB scale contract for dedup_embedding_cosine / sim_ann_lsh."""
    import math
    import random

    from pyspark.sql import functions as F

    from pdfparse_spark.pipeline.corpus import EMB_DIM as _EMB_DIM
    from pdfparse_spark.pipeline.embed import (
        embedding_candidate_pairs,
        recommended_signlsh_bits,
    )

    rng = random.Random(5)
    rows = []
    planted = set()
    for i in range(120):
        base = [rng.gauss(0.0, 1.0) for _ in range(_EMB_DIM)]
        rows.append((i, base))
        if i < 40:
            noisy = [x + rng.gauss(0.0, 0.12) for x in base]
            rows.append((1000 + i, noisy))
            planted.add((i, 1000 + i))
    e = spark.createDataFrame(rows, "vec_id: long, v: array<double>")

    cand_df = embedding_candidate_pairs(e)
    plan = cand_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan

    cands = {(r["vec_a"], r["vec_b"]) for r in cand_df.collect()}
    found = planted & cands
    recall = len(found) / len(planted)
    assert recall >= 0.9, "planted near-dup recall %.2f" % recall

    n = e.count()
    total_pairs = n * (n - 1) // 2
    assert len(cands) < 0.25 * total_pairs, (
        "candidate set %d of %d pairs — bucketing is not pruning" % (len(cands), total_pairs)
    )

    # production sizing: bits grow with log2(n) so per-bucket work is O(occ^2)
    assert recommended_signlsh_bits(10**11, 64) == math.ceil(math.log2(10**11 / 64))
    assert recommended_signlsh_bits(100) == 8


def test_recommended_ivf_cells_sizing():
    """cells = ceil(sqrt(n_probe * n)) balances centroid-scan vs
    candidate-scan cost; floored at the 16-cell gate default."""
    import math

    from pdfparse_spark.pipeline.embed import _N_CELLS, recommended_ivf_cells

    assert recommended_ivf_cells(50) == _N_CELLS  # floor at tiny corpora
    assert recommended_ivf_cells(10**6, 4) == math.ceil(math.sqrt(4 * 10**6)) == 2000
    # the two scan legs are balanced: probing p·n/cells candidates costs
    # about as much as scanning the cells centroids themselves
    n, p = 10**9, 4
    cells = recommended_ivf_cells(n, p)
    assert abs(cells - p * n / cells) / cells < 0.01
    assert recommended_ivf_cells(10**9) > recommended_ivf_cells(10**6)  # monotone


def test_minhash_clusters_match_exact_clusters(spark):
    """The LSH-fronted CC (dedup_minhash_clusters) must produce the same
    clusters as the exact-pair CC on the test corpora, where band recall
    at j >= 0.5 is total — pinning that swapping the scale-path pair
    generator does not change the dedup decision."""
    from pdfparse_spark.pipeline.textdedup import dedup_clusters, dedup_minhash_clusters

    exact = {tuple(r) for r in dedup_clusters(spark, SF).collect()}
    lsh = {tuple(r) for r in dedup_minhash_clusters(spark, SF).collect()}
    assert exact == lsh
    assert len(exact) > 0

def test_cc_pointer_jumping_rounds(spark):
    """A 256-node PATH graph (worst case for plain min-label propagation:
    O(n) rounds) must converge in O(log n) rounds thanks to the pointer
    jump, and still label every node with the component minimum."""
    from pdfparse_spark.pipeline.textdedup import _connected_components

    n = 256
    pairs = spark.createDataFrame(
        [("d%04d" % i, "d%04d" % (i + 1)) for i in range(n - 1)],
        ["doc_a", "doc_b"],
    )
    # plain min-label needs ~n rounds on a path; path halving needs
    # ~log2(n)=8 — allow slack for the convergence-detection round
    out = _connected_components(pairs, max_rounds=12).collect()
    assert len(out) == n
    assert {r.cluster_id for r in out} == {"d0000"}
    assert all(r.cluster_size == n for r in out)


def test_cc_two_components_min_label(spark):
    """Disjoint components keep distinct min labels under the jump."""
    from pdfparse_spark.pipeline.textdedup import _connected_components

    pairs = spark.createDataFrame(
        [("b", "a"), ("b", "c"), ("x", "y"), ("y", "z")],
        ["doc_a", "doc_b"],
    )
    out = {r.doc_id: (r.cluster_id, r.cluster_size) for r in
           _connected_components(pairs, max_rounds=8).collect()}
    assert out == {
        "a": ("a", 3), "b": ("a", 3), "c": ("a", 3),
        "x": ("x", 3), "y": ("x", 3), "z": ("x", 3),
    }

def test_ivf_trained_codebook_beats_standin(spark):
    """sim_ann_ivf_trained must (a) produce a strictly better codebook than
    the first-16-vector stand-in (lower total assignment inertia) and
    (b) not lose recall vs the exact brute-force top-3.  Measured on this
    corpus: inertia 754 -> 445, recall@3 0.27 -> 0.50 at sf0.01."""
    from pyspark.sql import functions as F
    from pdfparse_spark.pipeline.corpus import emb_norm as _emb_norm
    from pdfparse_spark.pipeline.embed import (
        _kmeans_assign,
        sim_ann_ivf,
        sim_ann_ivf_trained,
        sim_cosine_topk,
        train_kmeans_centroids,
    )

    sf = "/root/testdata/sf0.01"
    e = _emb_norm(spark, sf).select("vec_id", "v")
    standin = [
        (i, list(r["v"]))
        for i, r in enumerate(e.filter(F.col("vec_id") < 16).orderBy("vec_id").collect())
    ]
    trained = train_kmeans_centroids(e, k=16, iters=3, seed_mod=7)
    assert len(trained) == 16
    i_stand = _kmeans_assign(e, standin).agg(F.sum("d2")).collect()[0][0]
    i_train = _kmeans_assign(e, trained).agg(F.sum("d2")).collect()[0][0]
    assert i_train < 0.8 * i_stand, (i_train, i_stand)

    truth = {
        (r.query_id, r.neighbor_id)
        for r in sim_cosine_topk(spark, sf).filter(F.col("rank") <= 3).collect()
    }
    rec = {
        name: len({(r.query_id, r.neighbor_id) for r in fn(spark, sf).collect()} & truth)
        / len(truth)
        for name, fn in (("standin", sim_ann_ivf), ("trained", sim_ann_ivf_trained))
    }
    assert rec["trained"] >= rec["standin"], rec
    assert rec["trained"] >= 0.4, rec

def test_cc_random_graphs_match_union_find(spark):
    """_connected_components must agree with a driver-side union-find on
    random graphs (deterministic seeds) — labels are the component MIN and
    sizes match, across shapes the fixture corpora never produce (isolated
    pairs, stars, multi-chains, dense blobs)."""
    import random
    from pdfparse_spark.pipeline.textdedup import _connected_components

    for seed in (1, 2, 3):
        rng = random.Random(seed)
        n = 60
        edges = sorted(
            {
                tuple(sorted(rng.sample(range(n), 2)))
                for _ in range(rng.randrange(20, 80))
            }
        )
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        touched = sorted({v for e in edges for v in e})
        want_label = {("n%03d" % v): "n%03d" % find(v) for v in touched}
        sizes: dict = {}
        for v in touched:
            sizes[find(v)] = sizes.get(find(v), 0) + 1
        want_size = {("n%03d" % v): sizes[find(v)] for v in touched}

        pairs = spark.createDataFrame(
            [("n%03d" % a, "n%03d" % b) for a, b in edges], ["doc_a", "doc_b"]
        )
        got = _connected_components(pairs, max_rounds=12).collect()
        assert {r.doc_id: r.cluster_id for r in got} == want_label, seed
        assert {r.doc_id: r.cluster_size for r in got} == want_size, seed


def test_boilerplate_strip_known_template(spark):
    """Lines repeated in ≥min_df distinct containers are stripped; unique
    lines survive in original order; blank lines are exempt from the df
    count (they never become 'boilerplate') and an all-template doc
    collapses to the blank survivors only."""
    from pdfparse_spark.pipeline.textdedup import boilerplate_strip

    nav, foot = "Home | About | Contact", "(c) 2026 Example Corp"
    rows = [
        ("c1", 0, f"{nav}\nUnique story one.\n\n{foot}"),
        ("c2", 0, f"{nav}\nAnother unique tale.\n{foot}"),
        ("c3", 0, f"  {nav}  \nThird body line.\n{foot}"),
        ("c3", 1, f"{nav}\n{foot}"),
        ("c4", 0, "No template at all here."),
        # CRLF endings + tab indentation still count toward the same df key
        ("c5", 0, f"\t{nav}\r\nBody under CRLF.\r\n{foot}\r"),
        # NULL text must survive as an empty document, not vanish
        ("c6", 0, None),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    got = {
        (r["conv_id"], r["turn_idx"]): r
        for r in boilerplate_strip(
            df, ["conv_id", "turn_idx"], "conv_id", "text", min_df=3
        ).collect()
    }
    assert got[("c1", 0)]["clean_text"] == "Unique story one.\n"
    assert got[("c1", 0)]["n_removed"] == 2
    assert got[("c2", 0)]["clean_text"] == "Another unique tale."
    # whitespace-variant template lines normalize to the same df key
    assert got[("c3", 0)]["clean_text"] == "Third body line."
    assert got[("c3", 1)]["clean_text"] == ""
    assert got[("c3", 1)]["n_removed"] == 2
    assert got[("c4", 0)]["clean_text"] == "No template at all here."
    assert got[("c4", 0)]["n_removed"] == 0
    assert got[("c5", 0)]["clean_text"] == "Body under CRLF."
    assert got[("c5", 0)]["n_removed"] == 2
    assert got[("c6", 0)]["clean_text"] == ""
    assert got[("c6", 0)]["n_removed"] == 0
    # membership join must be a broadcast equality join, never cartesian
    plan = (
        boilerplate_strip(df, ["conv_id", "turn_idx"], "conv_id", "text", 3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_extract_line_dedup_gate(spark):
    """The gate summary is deterministic, strips fixture-template lines
    (shared across ≥3 convs) while conv-unique prose text survives
    untouched."""
    import __spark_entry__ as e

    rows = {r["content_type"]: r for r in e.queries()["extract_line_dedup"](spark, SF).collect()}
    assert set(rows) == {"pdf", "html", "text"}
    # plain-prose turns are conv-unique -> nothing stripped
    assert rows["text"]["n_removed"] == 0
    # fixture-pool payloads repeat across conversations -> template lines go
    assert rows["pdf"]["n_removed"] > 0
    assert rows["html"]["n_removed"] > 0


def test_embed_quality_score_matches_python(spark):
    """Scoring must equal a pure-Python reference (dot + bias → sigmoid)
    for every row, and keep must be exactly sign(margin)."""
    import math

    import pyarrow.parquet as pq

    from pdfparse_spark.pipeline.embed import (
        _quality_classifier_weights,
        embed_quality_score,
    )

    got = {r["vec_id"]: r for r in embed_quality_score(spark, SF).collect()}
    b, w = _quality_classifier_weights()
    tbl = pq.read_table(f"{SF}/embeddings.parquet").to_pylist()
    assert len(got) == len(tbl)
    for row in tbl:
        m = 0.0
        for x, c in zip(row["embedding"], w):
            m += float(x) * c  # same left-to-right double fold as both engines
        m += b
        g = got[row["vec_id"]]
        assert g["keep"] == (1 if m >= 0 else 0)
        p = 1.0 / (1.0 + math.exp(-round(m, 6)))
        assert abs(g["quality_score"] - p) <= 5.1e-5, (row["vec_id"], g, p)
        assert g["label"] == row["label"]


def test_train_embed_lr_converges(spark):
    """Distributed LR training must actually learn: cross-entropy loss is
    non-increasing over the full-batch GD trace and the trained model
    separates the target class (avg p̂ on positives ≫ on negatives —
    the embeddings' class structure is weak but real, cf. the kmeans
    inertia pin)."""
    from pdfparse_spark.pipeline.lr_model import train_embed_lr

    rows = train_embed_lr(spark, SF).collect()
    assert len(rows) == 25
    losses = [r["loss"] for r in rows]
    assert losses[0] > 0.69  # ln 2: the all-zero-weights starting point
    # tolerance ≥ the 1e-6 quantization the trace applies to each loss
    assert all(a >= b - 1.5e-6 for a, b in zip(losses, losses[1:])), losses
    assert losses[-1] < 0.5 * losses[0]
    final = rows[-1]
    assert final["p_pos"] > 2.5 * final["p_neg"], (final["p_pos"], final["p_neg"])


def test_embed_pca_matches_eigh(spark):
    """Power-iteration PCA must agree with numpy.linalg.eigh on the exact
    covariance matrix: top-2 eigenvalues within 1%, components ordered,
    explained fractions consistent."""
    import numpy as np
    import pyarrow.parquet as pq

    from pdfparse_spark.pipeline.embed import embed_pca

    rows = sorted(embed_pca(spark, SF).collect(), key=lambda r: r["component"])
    X = np.vstack(
        pq.read_table(f"{SF}/embeddings.parquet").to_pandas()["embedding"].to_numpy()
    ).astype(np.float64)
    Xc = X - X.mean(0)
    cov = Xc.T @ Xc / len(Xc)
    ev = np.sort(np.linalg.eigvalsh(cov))[::-1]
    assert len(rows) == 2
    assert rows[0]["eigenvalue"] >= rows[1]["eigenvalue"] > 0
    for r, want in zip(rows, ev[:2]):
        assert abs(r["eigenvalue"] - want) / want < 0.01, (r, want)
        assert abs(r["explained_frac"] - want / ev.sum()) < 0.005


def test_run_curate_cli(spark, tmp_path):
    """The curation runner writes exactly corpus_curate's doc set (same
    composition, ONE CC fixpoint), stage counts sum to docs_in, and the
    output is range-clustered on shuffle_rank (disjoint per-file rank
    ranges — the zone-map layout a chunk loader needs)."""
    import json

    from pdfparse_spark.pipeline.run_curate import main
    from pdfparse_spark.pipeline.curate import corpus_curate

    out = str(tmp_path / "curated")
    import contextlib, io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        main(["--sf-dir", SF, "--out", out, "--master", "local[8]", "--num-files", "4"])
    m = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert m["docs_in"] == m["dropped_quality"] + m["dropped_near_dup"] + m["docs_curated"]

    got = spark.read.parquet(out)
    want = corpus_curate(spark, SF)
    assert got.count() == m["docs_curated"] == want.count()
    assert {r["doc_id"] for r in got.select("doc_id").collect()} == {
        r["doc_id"] for r in want.select("doc_id").collect()
    }
    # disjoint per-file shuffle_rank ranges
    import pyspark.sql.functions as F

    files = (
        got.withColumn("f", F.input_file_name())
        .groupBy("f")
        .agg(F.min("shuffle_rank").alias("lo"), F.max("shuffle_rank").alias("hi"))
        .orderBy("lo")
        .collect()
    )
    for a, b in zip(files, files[1:]):
        assert a["hi"] < b["lo"]


def test_dedup_semantic_flags_planted_dup(spark, tmp_path):
    """SemDeDup keep rule: a planted near-identical pair loses its larger
    vec_id (the smaller keeps), vectors orthogonal to everything keep with
    n_dups=0, and every input vector appears exactly once in the output."""
    import pandas as pd
    import numpy as np

    dim, n = 32, 20
    vecs = []
    for i in range(n):
        v = np.zeros(dim, dtype=np.float32)
        v[min(i, 18)] = 1.0  # vec 19 shares axis 18 with vec 18 → cos = 1
        vecs.append(v.tolist())
    pdf = pd.DataFrame(
        {"vec_id": list(range(n)), "embedding": vecs, "label": [0] * n}
    )
    d = str(tmp_path)
    pdf.to_parquet(d + "/embeddings.parquet")
    from pdfparse_spark.pipeline.embed import dedup_semantic

    rows = {r["vec_id"]: r for r in dedup_semantic(spark, d).collect()}
    assert set(rows) == set(range(n))
    assert rows[19]["keep"] == 0 and rows[19]["n_dups"] == 1
    assert rows[18]["keep"] == 1  # the smaller id of the pair survives
    for i in range(18):
        assert rows[i]["keep"] == 1 and rows[i]["n_dups"] == 0
    # the pair can only have met inside one cell
    assert rows[18]["cell"] == rows[19]["cell"]

    # the TRAINED-cell production op makes the identical decision here:
    # identical vectors assign to the same max-cos cell under ANY
    # codebook, and orthogonal vectors never reach tau in any cell
    from pdfparse_spark.pipeline.embed import dedup_semantic_trained

    trows = {r["vec_id"]: r for r in dedup_semantic_trained(spark, d).collect()}
    assert set(trows) == set(range(n))
    assert trows[19]["keep"] == 0 and trows[19]["n_dups"] == 1
    assert trows[18]["keep"] == 1
    for i in range(18):
        assert trows[i]["keep"] == 1 and trows[i]["n_dups"] == 0


def test_dedup_semantic_trained_cells_more_balanced(spark):
    """The point of training the coarse quantizer: per-cell occupancy —
    the quantity that bounds the worst cell-bucketed reducer — must be
    more balanced (smaller max/min spread) than the first-16 stand-in's
    on the real gate corpus (measured: 63/45 = 1.4 vs 42/20 = 2.1)."""
    import pyspark.sql.functions as F

    from pdfparse_spark.pipeline.embed import dedup_semantic, dedup_semantic_trained

    sf = "/root/testdata/sf0.001"

    def spread(df):
        ns = [r["n"] for r in df.groupBy("cell").agg(F.count("*").alias("n")).collect()]
        return max(ns) / min(ns)

    assert spread(dedup_semantic_trained(spark, sf)) < spread(
        dedup_semantic(spark, sf)
    )


def test_bpe_pairs_vocab_weighted_multiplicity(spark, tmp_path):
    """BPE pair counts weight by word frequency AND in-word multiplicity:
    'aaa' x2 contributes 'aa' four times; a word shorter than 2 chars
    contributes nothing."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "text": ["aaa x aaa", "ab"],
            "lang": ["en"] * 2,
            "source": ["t"] * 2,
            "n_chars": [9, 2],
        }
    )
    d = str(tmp_path)
    pdf.to_parquet(d + "/documents.parquet")
    from pdfparse_spark.pipeline.textquality import text_bpe_pairs

    got = {r["pair"]: r["freq"] for r in text_bpe_pairs(spark, d).collect()}
    assert got == {"aa": 4, "ab": 1}


def test_perplexity_ranks_rare_token_doc_worst(spark, tmp_path):
    """The unigram-LM filter must score a gibberish doc (tokens that occur
    nowhere else) strictly worse than docs built from corpus-common words,
    and land it in the 'tail' bucket; every doc gets exactly one row."""
    import pandas as pd

    common = "the quick brown fox jumps over the lazy dog"
    texts = [common] * 9 + ["zxqv wkjp qqfl mmzr ttgb"]
    pdf = pd.DataFrame(
        {
            "doc_id": list(range(10)),
            "text": texts,
            "lang": ["en"] * 10,
            "source": ["t"] * 10,
            "n_chars": [len(t) for t in texts],
        }
    )
    d = str(tmp_path)
    pdf.to_parquet(d + "/documents.parquet")
    from pdfparse_spark.pipeline.textquality import text_perplexity

    rows = {r["doc_id"]: r for r in text_perplexity(spark, d).collect()}
    assert set(rows) == set(range(10))
    gib = rows[9]
    assert gib["ppl_bucket"] == "tail"
    assert all(gib["avg_logloss"] > rows[i]["avg_logloss"] for i in range(9))
    assert gib["n_tokens"] == 5 and rows[0]["n_tokens"] == 9
    assert {rows[i]["ppl_bucket"] for i in range(9)} <= {"head", "middle"}


def test_bpe_encode_hand_computed(spark, tmp_path):
    """Greedy rank-ordered apply on a corpus whose merge table is knowable
    by hand: vocab {aaab:2, ab:1} gives pair counts aa:4, ab:3 → ranks
    aa=0, ab=1.  'aaab' encodes a,a,a,b → [aa,a,b] → [aa,ab] = 2 subwords;
    'ab' → [ab] = 1.  Invariant: n_chars - n_bpe_tokens == merges applied."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "text": ["aaab aaab", "ab"],
            "lang": ["en"] * 2,
            "source": ["t"] * 2,
            "n_chars": [9, 2],
        }
    )
    d = str(tmp_path)
    pdf.to_parquet(d + "/documents.parquet")
    from pdfparse_spark.pipeline.textquality import text_bpe_encode

    rows = {r["doc_id"]: r for r in text_bpe_encode(spark, d).collect()}
    assert rows[1]["n_words"] == 2 and rows[1]["n_chars"] == 8
    assert rows[1]["n_bpe_tokens"] == 4  # two 'aaab' x 2 subwords each
    assert rows[2]["n_bpe_tokens"] == 1 and rows[2]["n_chars"] == 2
    assert rows[1]["chars_per_token"] == 2.0


def test_ivfpq_recall_and_adc_sanity(spark):
    """IVFPQ must (a) recover most of the recall the cell restriction
    alone allows (same coarse codebook, exact in-cell search = the
    ceiling), and (b) rank by an ADC that is genuinely monotone-ish in
    cosine: every returned neighbor's exact cos must match brute force's
    value for that pair."""
    from pyspark.sql import functions as F

    from pdfparse_spark.pipeline.ann_index import sim_ann_ivfpq
    from pdfparse_spark.pipeline.corpus import emb_norm as _emb_norm
    from pdfparse_spark.pipeline.embed import (
        _ivf_search,
        N_PROBE_PQ as _N_PROBE_PQ,
        sim_cosine_topk,
        trained_coarse as _trained_coarse,
    )

    sf = "/root/testdata/sf0.01"
    brute_rows = sim_cosine_topk(spark, sf).collect()  # ONE brute-force job
    brute = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"] for r in brute_rows
    }
    brute3 = {
        (r["query_id"], r["neighbor_id"]) for r in brute_rows if r["rank"] <= 3
    }
    # the ceiling is exact search restricted to ivfpq's OWN cells — the
    # same _trained_coarse(defaults) over the same NORMALIZED frame the
    # op trains on (sim_ann_ivf_trained would be a DIFFERENT quantizer:
    # iters=3 over the raw frame).  r3's untrained first-16 cells gave
    # recall 0.23 vs a 0.27 ceiling; trained cells lift it to 0.43.
    e_norm = _emb_norm(spark, sf).select(
        "vec_id",
        F.transform(F.col("v"), lambda x: x / F.col("nrm")).alias("v"),
        F.lit(1.0).alias("nrm"),
    )
    ceiling = {
        (r["query_id"], r["neighbor_id"])
        for r in _ivf_search(
            e_norm, _trained_coarse(e_norm), n_probe=_N_PROBE_PQ
        ).collect()
    }
    got_rows = sim_ann_ivfpq(spark, sf).collect()
    got = {(r["query_id"], r["neighbor_id"]) for r in got_rows}
    recall = len(got & brute3) / len(brute3)
    ceiling_recall = len(ceiling & brute3) / len(brute3)
    # deterministic on this corpus (fixed seeds): 0.50 at the 4-probe
    # gate default, against a 0.60 same-probe exact-in-cell ceiling
    assert recall >= 0.5
    assert recall >= 0.75 * ceiling_recall  # PQ+refine keeps most of the ceiling
    # exact re-rank correctness: cos values match brute force where known.
    # Tolerance, not equality: ivfpq computes dot(v/||v||, u/||u||), brute
    # computes dot(v,u)/(||v||·||u||) — the two float evaluation orders
    # differ by ulps, so round(·, 4) may split on a 0.00005 boundary.
    for r in got_rows:
        k = (r["query_id"], r["neighbor_id"])
        if k in brute:
            assert abs(r["cos_sim"] - brute[k]) <= 1e-4 + 1e-9
    # shape: 10 queries x top-3
    assert len(got_rows) == 30


def test_curate_full_is_subset_with_lm_leg(spark):
    """corpus_curate_full = corpus_curate ∧ LM-tercile: its doc set must be
    exactly corpus_curate's minus the perplexity 'tail' bucket, and ranks
    must stay contiguous from 1."""
    from pdfparse_spark.pipeline.curate import corpus_curate, corpus_curate_full
    from pdfparse_spark.pipeline.textquality import text_perplexity

    sf = "/root/testdata/sf0.001"
    base = {r["doc_id"] for r in corpus_curate(spark, sf).collect()}
    tail = {
        r["doc_id"]
        for r in text_perplexity(spark, sf).collect()
        if r["ppl_bucket"] == "tail"
    }
    rows = corpus_curate_full(spark, sf).collect()
    full = {r["doc_id"] for r in rows}
    assert full == base - tail
    assert sorted(r["shuffle_rank"] for r in rows) == list(range(1, len(rows) + 1))


def test_bpe_trainer_classic_example(spark, tmp_path):
    """Full iterative BPE on the classic hand-computable corpus
    {hug:3, pug:2, hugs:1}: merges must be (u,g):6 → (h,ug):4 →
    (p,ug):2 → (hug,s):1 and then STOP early (no pairs remain); the
    trained encode collapses every word to its learned subwords."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "text": ["hug hug hug pug pug", "hugs"],
            "lang": ["en"] * 2,
            "source": ["t"] * 2,
            "n_chars": [19, 4],
        }
    )
    d = str(tmp_path)
    pdf.to_parquet(d + "/documents.parquet")
    from pdfparse_spark.pipeline.textquality import (
        text_bpe_encode_trained,
        train_bpe_merges,
    )

    got = [
        (r["merge_rank"], r["left"], r["right"], r["freq"])
        for r in train_bpe_merges(spark, d).collect()
    ]
    assert got == [(1, "u", "g", 6), (2, "h", "ug", 4), (3, "p", "ug", 2), (4, "hug", "s", 1)]
    rows = {r["doc_id"]: r for r in text_bpe_encode_trained(spark, d).collect()}
    assert rows[1]["n_bpe_tokens"] == 5  # hug x3 + pug x2, one token each
    assert rows[2]["n_bpe_tokens"] == 1  # hugs


def test_bpe_trainer_driver_path_matches_distributed(spark):
    """The in-memory driver trainer (the 32k-merge production path) must
    produce the IDENTICAL merge table — same pairs, same tie-breaks, same
    freqs, same early stop — as the fully distributed per-round loop, on
    the real gate corpus with enough rounds to exercise multi-char-token
    merges and incremental count updates."""
    from pdfparse_spark.pipeline.textquality import train_bpe_merges

    sf = "/root/testdata/sf0.001"
    fast = [
        (r["merge_rank"], r["left"], r["right"], r["freq"])
        for r in train_bpe_merges(spark, sf, n_merges=24).collect()
    ]
    dist = [
        (r["merge_rank"], r["left"], r["right"], r["freq"])
        for r in train_bpe_merges(
            spark, sf, n_merges=24, driver_vocab_cap=None
        ).collect()
    ]
    assert len(fast) == 24
    assert fast == dist


def test_bpe_merge_fold_matches_python_reference(spark):
    """The pure-SQL merge fold (_bpe_merge_once_expr) must agree with an
    independent Python implementation of 'apply one merge left-to-right,
    non-overlapping' on adversarial segmentations: overlapping runs
    (aaa), back-to-back matches (abab), match at start/end, no match,
    and single-token inputs."""
    from pdfparse_spark.pipeline.textquality import _bpe_merge_once_expr

    def ref(seg, a, b):
        out, i = [], 0
        while i < len(seg):
            if i + 1 < len(seg) and seg[i] == a and seg[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(seg[i])
                i += 1
        return out

    cases = [
        (["a", "a", "a"], "a", "a"),
        (["a", "a", "a", "a"], "a", "a"),
        (["a", "b", "a", "b"], "a", "b"),
        (["x", "a", "b"], "a", "b"),
        (["a", "b", "x"], "a", "b"),
        (["a", "b"], "a", "b"),
        (["b", "a"], "a", "b"),
        (["z"], "a", "b"),
        (["ab", "c", "ab", "c", "ab"], "ab", "c"),
        (["q", "u", "g", "u", "g"], "u", "g"),
    ]
    # deterministic pseudo-random extras (no global random state)
    toks = ["a", "b", "ab", "c"]
    x = 12345
    for _ in range(30):
        seg = []
        x = (1103515245 * x + 12345) & 0x7FFFFFFF
        for j in range((x % 6) + 1):
            x = (1103515245 * x + 12345) & 0x7FFFFFFF
            seg.append(toks[x % len(toks)])
        cases.append((seg, "a", "b"))
        cases.append((seg, "ab", "c"))
    df = spark.createDataFrame(
        [(i, seg, a, b) for i, (seg, a, b) in enumerate(cases)],
        "id int, seg array<string>, a string, b string",
    )
    import pyspark.sql.functions as F

    rows = {}
    for i, (seg, a, b) in enumerate(cases):
        rows[i] = ref(seg, a, b)
    # evaluate the fold per distinct (a, b) literal pair
    got = {}
    for pair in {(a, b) for _, a, b in cases}:
        sub = df.filter((F.col("a") == pair[0]) & (F.col("b") == pair[1]))
        out = sub.select("id", _bpe_merge_once_expr(*pair).alias("m")).collect()
        for r in out:
            got[r["id"]] = list(r["m"])
    assert got == rows


def test_run_curate_cli_lm_filter(spark, tmp_path):
    """--lm-filter makes the CLI write exactly corpus_curate_full's doc
    set, with the four-way stage breakdown summing to docs_in."""
    import contextlib, io, json

    from pdfparse_spark.pipeline.run_curate import main
    from pdfparse_spark.pipeline.curate import corpus_curate_full

    out = str(tmp_path / "curated_lm")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        main([
            "--sf-dir", SF, "--out", out, "--master", "local[8]",
            "--num-files", "4", "--lm-filter",
        ])
    m = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert (
        m["docs_in"]
        == m["dropped_quality"] + m["dropped_near_dup"] + m["dropped_lm"]
        + m["docs_curated"]
    )
    assert m["dropped_lm"] > 0  # the tercile leg genuinely drops docs
    got = spark.read.parquet(out)
    want = corpus_curate_full(spark, SF)
    assert got.count() == m["docs_curated"] == want.count()
    assert {r["doc_id"] for r in got.select("doc_id").collect()} == {
        r["doc_id"] for r in want.select("doc_id").collect()
    }


def test_ivfpq_index_roundtrip_matches_gate_op(spark, tmp_path):
    """build_ivfpq_index → search_ivfpq_index must reproduce
    sim_ann_ivfpq row-for-row: the stored codes/codebooks/cells carry
    everything the search needs, and the two search bodies cannot drift
    without this test failing."""
    from pdfparse_spark.pipeline.ann_index import (
        build_ivfpq_index,
        search_ivfpq_index,
    )
    from pdfparse_spark.pipeline.ann_index import sim_ann_ivfpq

    sf = "/root/testdata/sf0.01"
    idx = str(tmp_path / "idx")
    stats = build_ivfpq_index(spark, sf, idx)
    assert stats["n_vectors"] == 500 and stats["m"] == 8 and stats["k"] == 16
    got = sorted(
        (r["query_id"], r["neighbor_id"], r["rank"], r["cos_sim"], r["adc_dist"])
        for r in search_ivfpq_index(spark, sf, idx).collect()
    )
    want = sorted(
        (r["query_id"], r["neighbor_id"], r["rank"], r["cos_sim"], r["adc_dist"])
        for r in sim_ann_ivfpq(spark, sf).collect()
    )
    assert got == want


def test_ivfpq_gate_op_ignores_all_zero_vector(spark, tmp_path):
    """An all-zero embedding has no direction to quantize: sim_ann_ivfpq
    drops it before training (the zero-norm guard the index build and
    appends share), so adding one to the corpus changes no output row.
    vec_id 501 is never a k-means seed (% 7), a PQ seed (% 13) or a
    query (% 50)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdfparse_spark.pipeline.ann_index import sim_ann_ivfpq

    sf = os.path.join(os.path.dirname(SF), "sf0.01")
    base = pq.read_table(sf + "/embeddings.parquet")
    zero = pa.table(
        {
            "vec_id": pa.array([501], pa.int64()),
            "embedding": pa.array([[0.0] * 64], pa.list_(pa.float32())),
            "label": pa.array([0], pa.int32()),
        }
    )
    pq.write_table(
        pa.concat_tables([base.replace_schema_metadata(None), zero]),
        str(tmp_path / "embeddings.parquet"),
    )

    def rows(sf_dir):
        return sorted(
            (r["query_id"], r["neighbor_id"], r["rank"], r["cos_sim"], r["adc_dist"])
            for r in sim_ann_ivfpq(spark, sf_dir).collect()
        )

    assert rows(str(tmp_path)) == rows(sf)


def test_ann_index_append_finds_planted_neighbor(spark, tmp_path):
    """encode_into_index must make NEW vectors searchable without any
    retraining: append a near-copy of a query vector, extend the corpus
    table the refine step reads, and the planted row must surface as the
    query's rank-1 neighbor with near-perfect cosine."""
    from pyspark.sql import functions as F

    from pdfparse_spark.pipeline.ann_index import (
        build_ivfpq_index,
        encode_into_index,
        search_ivfpq_index,
    )

    sf = "/root/testdata/sf0.001"
    idx = str(tmp_path / "idx")
    build_ivfpq_index(spark, sf, idx)

    base = spark.read.parquet(sf + "/embeddings.parquet")
    q_id = 100  # a query (vec_id % 50 == 0)
    q_vec = base.filter(F.col("vec_id") == q_id).collect()[0]["embedding"]
    planted_id = 501  # new id, NOT itself a query (501 % 50 != 0)
    # tiny deterministic perturbation: cos(planted, q) ~ 0.9999
    planted_vec = [float(x) + 0.001 * ((i % 3) - 1) for i, x in enumerate(q_vec)]
    new_rows = spark.createDataFrame(
        [(planted_id, planted_vec, 0)], "vec_id long, embedding array<float>, label int"
    )
    stats = encode_into_index(spark, idx, new_rows, ingest="a1")
    assert stats["n_appended"] == 1
    assert spark.read.parquet(idx + "/vectors").count() == 501
    # retry idempotence: re-running the SAME ingest label overwrites its
    # own partition instead of duplicating rows
    encode_into_index(spark, idx, new_rows, ingest="a1")
    assert spark.read.parquet(idx + "/vectors").count() == 501

    # the refine step fetches exact vectors from the corpus table, so the
    # search corpus must contain the appended row too (in production the
    # row was ingested into the corpus BEFORE being indexed)
    corpus = str(tmp_path / "corpus")
    base.unionByName(new_rows).write.parquet(corpus + "/embeddings.parquet")

    hits = {
        (r["query_id"], r["neighbor_id"]): (r["rank"], r["cos_sim"])
        for r in search_ivfpq_index(spark, corpus, idx).collect()
    }
    assert (q_id, planted_id) in hits
    rank, cos = hits[(q_id, planted_id)]
    assert rank == 1 and cos > 0.999

    # reserved ingest labels: 'base' (the build) and 'batch-<n>' (the
    # stream's namespace) must be refused — dynamic partition overwrite
    # would silently replace those partitions' rows
    import pytest as _pytest

    for bad in ("base", "batch-0", "batch-17"):
        with _pytest.raises(ValueError, match="reserved"):
            encode_into_index(spark, idx, new_rows, ingest=bad)

    # all-zero embeddings have no direction: they are dropped, never
    # encoded as NaN cells/codes
    zero_rows = spark.createDataFrame(
        [(777, [0.0] * len(q_vec), 0)],
        "vec_id long, embedding array<float>, label int",
    )
    stats = encode_into_index(spark, idx, zero_rows, ingest="a2")
    assert stats["n_appended"] == 0
    assert spark.read.parquet(idx + "/vectors").count() == 501


def test_span_ngrams_planted_shared_run(spark, tmp_path):
    """A 10-token run shared verbatim by two docs must surface as exactly
    one merged span per doc at the planted token offsets (three overlapping
    8-grams coalesce); two shared runs separated by unique tokens stay two
    spans; an all-unique doc emits nothing."""
    import pandas as pd

    shared = " ".join("s%02d" % i for i in range(10))
    run8a = " ".join("p%02d" % i for i in range(8))
    run8b = " ".join("q%02d" % i for i in range(8))
    texts = [
        # doc 0: 5-token prefix + shared run + 3-token suffix -> span 6..15
        "u00 u01 u02 u03 u04 " + shared + " v00 v01 v02",
        # doc 1: 2-token prefix + shared run + 1-token suffix -> span 3..12
        "w00 w01 " + shared + " x00",
        # doc 2: all unique tokens -> no covered positions
        " ".join("z%02d" % i for i in range(20)),
        # docs 3/4: TWO shared 8-gram runs with a 2-token unique gap ->
        # two separate spans in each doc
        run8a + " y00 y01 " + run8b,
        run8a + " k00 k01 " + run8b,
    ]
    pdf = pd.DataFrame(
        {
            "doc_id": list(range(len(texts))),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["t"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    )
    d = str(tmp_path)
    pdf.to_parquet(d + "/documents.parquet")
    from pdfparse_spark.pipeline.textdedup import dedup_span_ngrams

    spans = {}
    for r in dedup_span_ngrams(spark, d).collect():
        spans.setdefault(r["doc_id"], []).append(
            (r["span_start"], r["span_end"], r["span_len"])
        )
    for v in spans.values():
        v.sort()
    assert spans[0] == [(6, 15, 10)]
    assert spans[1] == [(3, 12, 10)]
    assert 2 not in spans
    assert spans[3] == [(1, 8, 8), (11, 18, 8)]
    assert spans[4] == [(1, 8, 8), (11, 18, 8)]


def test_span_hot_gram_salted_join_spreads(spark, tmp_path):
    """One boilerplate 8-gram planted in 64 docs (the hot-key case span
    dedup exists to find) must (a) still cover every doc correctly and
    (b) spread its probe-join rows across many reducers — the salted
    (g, salt) join key, not the raw gram string, carries the shuffle."""
    import pandas as pd
    from pyspark.sql import functions as F

    shared = " ".join("h%02d" % i for i in range(8))
    texts = ["ua%03d ub%03d " % (i, i) + shared for i in range(64)]
    pdf = pd.DataFrame(
        {
            "doc_id": list(range(64)),
            "text": texts,
            "lang": ["en"] * 64,
            "source": ["t"] * 64,
            "n_chars": [len(t) for t in texts],
        }
    )
    d = str(tmp_path)
    pdf.to_parquet(d + "/documents.parquet")
    from pdfparse_spark.pipeline.textdedup import _dup_gram_cov, _SPAN_SALT

    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    bcast_key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(coalesce_key, "true")
    prev_b = spark.conf.get(bcast_key)
    try:
        # at 100 TB the dup-gram side is corpus-sized, not broadcastable —
        # force the shuffle join the production plan would use, and keep
        # post-shuffle partitions distinct so spark_partition_id() on the
        # join output observes the salted key distribution
        spark.conf.set(coalesce_key, "false")
        spark.conf.set(bcast_key, "-1")
        cov = _dup_gram_cov(spark, d).withColumn(
            "pid", F.spark_partition_id()
        )
        rows = cov.collect()
    finally:
        spark.conf.set(coalesce_key, prev)
        spark.conf.set(bcast_key, prev_b)
    # correctness: every doc covered exactly once at tokens 3..10
    per_doc = {r["doc_id"]: (r["s"], r["e"]) for r in rows}
    assert len(rows) == 64 and len(per_doc) == 64
    assert set(per_doc.values()) == {(3, 10)}
    # skew defense: 64 distinct doc_ids hash into nearly all _SPAN_SALT
    # salt values, so the single hot gram's rows land on many partitions
    # and no partition carries more than a bounded share
    by_pid = {}
    for r in rows:
        by_pid[r["pid"]] = by_pid.get(r["pid"], 0) + 1
    assert len(by_pid) >= min(4, _SPAN_SALT)
    assert max(by_pid.values()) <= 32  # no reducer holds the whole key


def test_dsir_scores_target_like_docs_positive(spark, tmp_path):
    """Raw-pool docs written in the target slice's vocabulary must score
    log_w > 0 (kept) and strictly above every raw doc written in the
    majority vocabulary, which must score negative (dropped) — the sign
    convention DSIR resampling relies on."""
    import pandas as pd

    vocab_a = "alpha beta gamma delta epsilon zeta eta theta"
    vocab_b = "one two three four five six seven eight"
    texts, ids = [], []
    for i in range(30):
        ids.append(i)
        if i % 10 == 0 or i in (5, 15):  # targets + two target-like raws
            texts.append(vocab_a)
        else:
            texts.append(vocab_b)
    ids.append(31)
    texts.append("~~~ !!!")  # tokenizes to nothing: zero features, still a row
    pdf = pd.DataFrame(
        {
            "doc_id": ids,
            "text": texts,
            "lang": ["en"] * len(ids),
            "source": ["t"] * len(ids),
            "n_chars": [len(t) for t in texts],
        }
    )
    d = str(tmp_path)
    pdf.to_parquet(d + "/documents.parquet")
    from pdfparse_spark.pipeline.dsir_model import docs_dsir_weights

    rows = {r["doc_id"]: r for r in docs_dsir_weights(spark, d).collect()}
    assert set(rows) == set(range(30)) | {31}
    assert rows[31]["n_feats"] == 0 and rows[31]["log_w"] == 0.0 and rows[31]["keep"] == 0
    a_like = [i for i in range(30) if i % 10 != 0 and i in (5, 15)]
    b_like = [i for i in range(30) if i % 10 != 0 and i not in (5, 15)]
    for i in a_like:
        assert rows[i]["log_w"] > 0 and rows[i]["keep"] == 1, rows[i]
    for i in b_like:
        assert rows[i]["log_w"] < 0 and rows[i]["keep"] == 0, rows[i]
    assert min(rows[i]["log_w"] for i in a_like) > max(
        rows[i]["log_w"] for i in b_like
    )
    # every doc emits exactly one row and n_feats = unigrams + bigrams
    assert rows[0]["n_feats"] == 8 + 7


def test_bloom_prior_no_false_negatives_and_fp_bound(spark, tmp_path):
    """The Bloom guarantee the op exists for: every increment doc whose
    text ALSO appears in the prior slice must hit (no false negatives —
    a miss there would let a known duplicate back into the corpus), and
    the false-positive rate over genuine non-members stays far under the
    sizing bound (m=2^17, k=3 → theoretical ~2e-5 at these prior sizes).
    Membership is planted (ids 4k+1 copy id 4k\'s text); the FP leg also
    sweeps the real sf0.01 corpus, which carries no cross-slice dups."""
    import pandas as pd

    from pdfparse_spark.pipeline.bloom_index import _BLOOM_PRIOR_MOD, dedup_bloom_prior
    from pdfparse_spark.pipeline.corpus import read_docs as _docs

    texts = ["planted doc number %d with its own words %d" % (i, i * 7) for i in range(200)]
    for k in range(0, 40, 4):
        texts[k + 1] = texts[k]  # increment doc duplicates a prior doc
    pdf = pd.DataFrame(
        {
            "doc_id": range(200),
            "text": texts,
            "lang": ["en"] * 200,
            "source": ["t"] * 200,
            "n_chars": [len(t) for t in texts],
        }
    )
    d = str(tmp_path)
    pdf.to_parquet(d + "/documents.parquet")
    hits = {r["doc_id"]: r["bloom_hit"] for r in dedup_bloom_prior(spark, d).collect()}
    assert set(hits) == {i for i in range(200) if i % _BLOOM_PRIOR_MOD != 0}
    members = [k + 1 for k in range(0, 40, 4)]
    assert all(hits[i] == 1 for i in members)  # zero false negatives
    nonmembers = [i for i in hits if i not in members]
    assert sum(hits[i] for i in nonmembers) / len(nonmembers) <= 0.01

    # FP sweep over the real corpus (no cross-slice exact dups there)
    sf = "/root/testdata/sf0.01"
    real_hits = {r["doc_id"]: r["bloom_hit"] for r in dedup_bloom_prior(spark, sf).collect()}
    rows = _docs(spark, sf).select("doc_id", "text").collect()
    prior_texts = {r["text"] for r in rows if r["doc_id"] % _BLOOM_PRIOR_MOD == 0}
    fps = [i for i, h in real_hits.items() if h == 1]
    by_id = {r["doc_id"]: r["text"] for r in rows}
    genuine_fp = [i for i in fps if by_id[i] not in prior_texts]
    assert len(genuine_fp) / max(len(real_hits), 1) <= 0.01


def test_pack_bins_invariants(spark):
    """Next-fit packing invariants at sf0.01: every doc packed exactly
    once; bin indexes advance 0/+1 with position (next-fit never reopens
    a bin); no bin exceeds the token budget unless it holds exactly one
    oversize doc, and oversize docs always sit alone."""
    from pdfparse_spark.pipeline.docorder import _PACK_TOKENS, docs_pack_bins

    rows = docs_pack_bins(spark, "/root/testdata/sf0.01").collect()
    n_docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet").count()
    assert len(rows) == n_docs
    assert len({r["doc_id"] for r in rows}) == n_docs
    by_shard: dict = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r)
    bins: dict = {}
    for shard, rs in by_shard.items():
        rs.sort(key=lambda r: r["pos"])
        assert [r["pos"] for r in rs] == list(range(1, len(rs) + 1))
        assert rs[0]["bin_idx"] == 1
        for a, b in zip(rs, rs[1:]):
            assert b["bin_idx"] - a["bin_idx"] in (0, 1)
        for r in rs:
            bins.setdefault((shard, r["bin_idx"]), []).append(r)
    for (_, _), members in bins.items():
        total = sum(r["n_tok"] for r in members)
        oversize = [r for r in members if r["oversize"] == 1]
        if total > _PACK_TOKENS:
            assert len(members) == 1 and oversize, members
        if oversize:
            assert len(members) == 1


def test_pack_bins_split_oversize_never_over_budget(spark, tmp_path):
    """split_oversize=True must NEVER emit an over-budget bin: planted
    docs 2.5x and 1x-exactly the budget are chunked into budget-sized
    pieces whose counts partition the doc, pieces stay adjacent in pos
    order with piece_idx 0..n_pieces-1, and every bin's fill ≤ budget."""
    import pandas as pd

    from pdfparse_spark.pipeline.docorder import docs_pack_bins

    budget = 16
    n_toks = {0: 40, 1: 16, 2: 7, 3: 33, 4: 3, 5: 16 * 4}
    pdf = pd.DataFrame(
        {
            "doc_id": list(n_toks),
            "text": [
                " ".join("d%dt%d" % (d, i) for i in range(n))
                for d, n in n_toks.items()
            ],
            "lang": ["en"] * len(n_toks),
            "source": ["t"] * len(n_toks),
            "n_chars": [1] * len(n_toks),
        }
    )
    d = str(tmp_path)
    pdf.to_parquet(d + "/documents.parquet")

    rows = docs_pack_bins(
        spark, d, shards=2, budget=budget, split_oversize=True
    ).collect()
    by_doc: dict = {}
    bins: dict = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
        bins.setdefault((r["shard"], r["bin_idx"]), 0)
        bins[(r["shard"], r["bin_idx"])] += r["n_tok"]
    # THE invariant: no bin over budget, ever
    assert all(fill <= budget for fill in bins.values()), bins
    for did, pieces in by_doc.items():
        pieces.sort(key=lambda r: r["piece_idx"])
        n = n_toks[did]
        expect = -(-n // budget) if n > budget else 1
        assert [p["piece_idx"] for p in pieces] == list(range(expect))
        assert all(p["n_pieces"] == expect for p in pieces)
        assert sum(p["n_tok"] for p in pieces) == n  # pieces partition the doc
        assert all(p["n_tok"] <= budget for p in pieces)
        # adjacency: continuation pieces follow immediately in shard order
        pos = sorted(p["pos"] for p in pieces)
        assert pos == list(range(pos[0], pos[0] + expect))
    # exactly-budget doc is NOT split
    assert len(by_doc[1]) == 1 and len(by_doc[5]) == 4


def test_span_strip_removes_exactly_planted_run(spark, tmp_path):
    """Stripping must remove exactly the tokens under the shared run and
    keep everything else in order — clean_sha equals a Python-computed
    sha256 of the surviving tokens; the all-unique doc is untouched."""
    import hashlib

    import pandas as pd

    shared = " ".join("s%02d" % i for i in range(10))
    texts = [
        "u00 u01 u02 u03 u04 " + shared + " v00 v01 v02",
        "w00 w01 " + shared + " x00",
        " ".join("z%02d" % i for i in range(20)),
    ]
    pdf = pd.DataFrame(
        {
            "doc_id": list(range(len(texts))),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["t"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    )
    d = str(tmp_path)
    pdf.to_parquet(d + "/documents.parquet")
    from pdfparse_spark.pipeline.textdedup import dedup_span_strip

    rows = {r["doc_id"]: r for r in dedup_span_strip(spark, d).collect()}
    assert set(rows) == {0, 1, 2}

    def sha(s: str) -> str:
        return hashlib.sha256(s.encode()).hexdigest()

    assert rows[0]["n_tokens"] == 18 and rows[0]["n_removed"] == 10
    assert rows[0]["clean_sha"] == sha("u00 u01 u02 u03 u04 v00 v01 v02")
    assert rows[1]["n_tokens"] == 13 and rows[1]["n_removed"] == 10
    assert rows[1]["clean_sha"] == sha("w00 w01 x00")
    assert rows[2]["n_removed"] == 0
    assert rows[2]["clean_sha"] == sha(texts[2])


def test_run_curate_cli_strip_spans(spark, tmp_path):
    """--strip-spans emits the duplicated-span-stripped token stream as
    the payload: a run shared by two surviving docs vanishes from BOTH
    clean_texts (coverage is corpus-level, before any filter), docs with
    no covered tokens keep their full stream, n_removed_tokens accounts
    exactly, and the metrics line carries the corpus total."""
    import contextlib
    import io
    import json

    import pandas as pd

    from pdfparse_spark.pipeline.run_curate import main

    shared = " ".join("s%02d" % i for i in range(10))
    texts, ids = [], []
    # 30 distinct long docs so gopher/n_tokens>=8 passes and nothing
    # near-dups (unique vocab per doc except the planted run)
    for i in range(30):
        ids.append(i)
        base = " ".join("d%02dw%02d" % (i, j) for j in range(20))
        if i in (0, 1):
            texts.append(base + " " + shared)
        else:
            texts.append(base)
    pdf = pd.DataFrame(
        {
            "doc_id": ids,
            "text": texts,
            "lang": ["en"] * len(ids),
            "source": ["t"] * len(ids),
            "n_chars": [len(t) for t in texts],
        }
    )
    d = str(tmp_path / "corpus")
    import os

    os.makedirs(d)
    pdf.to_parquet(d + "/documents.parquet")

    out = str(tmp_path / "curated")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        main(
            [
                "--sf-dir", d, "--out", out,
                "--master", "local[8]", "--num-files", "2", "--strip-spans",
            ]
        )
    m = json.loads(buf.getvalue().strip().splitlines()[-1])
    got = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert "clean_text" in spark.read.parquet(out).columns
    shared_toks = set(shared.split())
    total_removed = 0
    for did, r in got.items():
        toks = r["clean_text"].split() if r["clean_text"] else []
        assert not (set(toks) & shared_toks), did  # stripped everywhere
        if did in (0, 1):
            assert r["n_removed_tokens"] == 10 and len(toks) == 20
        else:
            assert r["n_removed_tokens"] == 0 and len(toks) == 20
        total_removed += r["n_removed_tokens"]
    assert m["tokens_removed"] == total_removed == 10 * len(
        [d_ for d_ in got if d_ in (0, 1)]
    )


def test_run_curate_cli_dsir_filter(spark, tmp_path):
    """--dsir-filter composes a DSIR keep==1 stage after the gopher∧dedup
    (∧ LM) legs: the five-way stage breakdown sums to docs_in, and the
    written doc set equals recomputing the same intersection from the
    gate queries directly."""
    import contextlib, io, json

    from pdfparse_spark.pipeline.run_curate import main
    from pdfparse_spark.pipeline.curate import corpus_curate_full
    from pdfparse_spark.pipeline.dsir_model import docs_dsir_weights

    out = str(tmp_path / "curated_dsir")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        main([
            "--sf-dir", SF, "--out", out, "--master", "local[8]",
            "--num-files", "4", "--lm-filter", "--dsir-filter",
        ])
    m = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert (
        m["docs_in"]
        == m["dropped_quality"] + m["dropped_near_dup"] + m["dropped_lm"]
        + m["dropped_dsir"] + m["docs_curated"]
    )
    got = {r["doc_id"] for r in spark.read.parquet(out).select("doc_id").collect()}
    full = {r["doc_id"] for r in corpus_curate_full(spark, SF).select("doc_id").collect()}
    keep = {
        r["doc_id"]
        for r in docs_dsir_weights(spark, SF).filter("keep = 1").select("doc_id").collect()
    }
    assert got == (full & keep)
    assert m["docs_curated"] == len(got)
    assert m["dropped_dsir"] == len(full - keep)


def test_bloom_index_lifecycle(spark, tmp_path):
    """build → probe → extend → re-probe → idempotent re-extend: texts
    indexed in EITHER pass hit, unseen texts don't (planted, deterministic
    draw), the stored words are byte-identical after a replayed extend,
    and NULL texts probe to 0."""
    from pdfparse_spark.pipeline.bloom_index import (
        bloom_index_stats,
        build_bloom_index,
        extend_bloom_index,
        probe_bloom_index,
    )

    def frame(texts):
        return spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )

    crawl1 = frame(["crawl one doc %d words" % i for i in range(50)])
    crawl2 = frame(["crawl two doc %d words" % i for i in range(50)])
    idx = str(tmp_path / "bloomidx")

    # non-default bits: every later op must take params from stored meta
    stats = build_bloom_index(spark, crawl1, idx, bits=1 << 12)
    assert stats["bits"] == 1 << 12
    assert 0 < stats["n_set_bits"] <= 3 * 50
    assert stats["est_fp_rate"] < 1e-3

    probe_texts = [
        "crawl one doc 7 words",   # in crawl1
        "crawl two doc 7 words",   # only in crawl2 (not yet indexed)
        "never seen anywhere",
        None,                      # null: no verdict signal, hit 0
    ]
    inc = spark.createDataFrame(
        [(i, t) for i, t in enumerate(probe_texts)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["bloom_hit"] for r in probe_bloom_index(spark, inc, idx).collect()}
    assert got == {0: 1, 1: 0, 2: 0, 3: 0}

    extend_bloom_index(spark, crawl2, idx)
    got = {r["doc_id"]: r["bloom_hit"] for r in probe_bloom_index(spark, inc, idx).collect()}
    assert got == {0: 1, 1: 1, 2: 0, 3: 0}

    # replayed extend: OR of already-set bits — filter byte-identical
    before = sorted(
        (r["word_idx"], r["word"])
        for r in spark.read.parquet(idx + "/words").collect()
    )
    extend_bloom_index(spark, crawl2, idx)
    after = sorted(
        (r["word_idx"], r["word"])
        for r in spark.read.parquet(idx + "/words").collect()
    )
    assert before == after
    assert bloom_index_stats(spark, idx)["fill"] < 0.1  # ~300 bits / 4096


def test_bloom_probe_join_path_matches_literal(spark, tmp_path):
    """The broadcast-join probe (the large-m path) must be verdict-
    identical to the constant-folded literal probe on the same filter —
    hits, misses, FP-or-not, and NULL handling all agree row for row."""
    from pdfparse_spark.pipeline.bloom_index import build_bloom_index, probe_bloom_index

    crawl = spark.createDataFrame(
        [(i, "indexed doc %d body" % i) for i in range(200)],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "bloomidx")
    build_bloom_index(spark, crawl, idx, bits=1 << 12)

    probe_rows = [(i, "indexed doc %d body" % i) for i in range(0, 200, 3)]
    probe_rows += [(1000 + i, "unseen text %d" % i) for i in range(100)]
    probe_rows += [(9999, None)]
    inc = spark.createDataFrame(probe_rows, "doc_id long, text string")

    lit = {
        r["doc_id"]: r["bloom_hit"]
        for r in probe_bloom_index(spark, inc, idx, method="literal").collect()
    }
    join = {
        r["doc_id"]: r["bloom_hit"]
        for r in probe_bloom_index(spark, inc, idx, method="join").collect()
    }
    assert lit == join
    assert all(lit[i] == 1 for i in range(0, 200, 3))  # no false negatives
    assert lit[9999] == 0


def test_bloom_large_m_build_and_join_probe(spark, tmp_path):
    """m = 2^28 (32 MB dense — past the literal cutover): the sparse build
    completes locally, 'auto' dispatches to the join probe, and the filter
    still has zero false negatives and a tiny measured FP rate."""
    from pdfparse_spark.pipeline.bloom_index import (
        _LITERAL_MAX_BITS,
        bloom_index_stats,
        build_bloom_index,
        probe_bloom_index,
    )

    bits = 1 << 28
    assert bits > _LITERAL_MAX_BITS
    crawl = spark.createDataFrame(
        [(i, "big index doc %d" % i) for i in range(500)],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "bigbloom")
    stats = build_bloom_index(spark, crawl, idx, bits=bits)
    assert stats["bits"] == bits and 0 < stats["n_set_bits"] <= 3 * 500
    assert stats["est_fp_rate"] < 1e-12

    probe_rows = [(i, "big index doc %d" % i) for i in range(500)]
    probe_rows += [(10_000 + i, "absent text %d" % i) for i in range(500)]
    inc = spark.createDataFrame(probe_rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["bloom_hit"]
        for r in probe_bloom_index(spark, inc, idx).collect()  # auto → join
    }
    assert all(got[i] == 1 for i in range(500))  # zero false negatives
    fps = sum(got[10_000 + i] for i in range(500))
    assert fps == 0  # 1500/2^28 fill, k=3 → FP odds astronomically small
    assert bloom_index_stats(spark, idx)["bits"] == bits

    # distributed extend at large m: the increment folds in via the
    # bit_or rewrite (no driver-side word array), new texts hit, old
    # texts still hit, and a replayed extend leaves values identical
    from pdfparse_spark.pipeline.bloom_index import extend_bloom_index

    crawl2 = spark.createDataFrame(
        [(i, "second big crawl %d" % i) for i in range(300)],
        "doc_id long, text string",
    )
    extend_bloom_index(spark, crawl2, idx)
    inc2 = spark.createDataFrame(
        [(0, "big index doc 7"), (1, "second big crawl 7"), (2, "still absent")],
        "doc_id long, text string",
    )
    got2 = {
        r["doc_id"]: r["bloom_hit"]
        for r in probe_bloom_index(spark, inc2, idx).collect()
    }
    assert got2 == {0: 1, 1: 1, 2: 0}
    before = sorted(
        (r["word_idx"], r["word"])
        for r in spark.read.parquet(idx + "/words").collect()
    )
    extend_bloom_index(spark, crawl2, idx)
    after = sorted(
        (r["word_idx"], r["word"])
        for r in spark.read.parquet(idx + "/words").collect()
    )
    assert before == after  # idempotent OR, distributed path


def test_bloom_stored_seed_tag_wins(spark, tmp_path, monkeypatch):
    """Probe/extend must hash with the seed stored in meta, not the module
    constant: after the constant 'changes' (a future refactor), an index
    persisted under the old seed still probes with zero false negatives
    and an extend still ORs compatible bits."""
    from pdfparse_spark.pipeline import bloom_index as bi

    crawl1 = spark.createDataFrame(
        [(i, "old seed doc %d" % i) for i in range(80)], "doc_id long, text string"
    )
    idx = str(tmp_path / "seedidx")
    bi.build_bloom_index(spark, crawl1, idx, bits=1 << 12)

    monkeypatch.setattr(bi, "_SEED_TAG", "bloomidx-v2")
    inc = spark.createDataFrame(
        [(i, "old seed doc %d" % i) for i in range(80)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["bloom_hit"] for r in bi.probe_bloom_index(spark, inc, idx).collect()}
    assert all(v == 1 for v in got.values())  # stored seed honored — no FNs

    crawl2 = spark.createDataFrame(
        [(i, "second crawl doc %d" % i) for i in range(80)], "doc_id long, text string"
    )
    bi.extend_bloom_index(spark, crawl2, idx)
    inc2 = spark.createDataFrame(
        [(i, "second crawl doc %d" % i) for i in range(80)], "doc_id long, text string"
    )
    got2 = {r["doc_id"]: r["bloom_hit"] for r in bi.probe_bloom_index(spark, inc2, idx).collect()}
    assert all(v == 1 for v in got2.values())
    assert spark.read.parquet(idx + "/meta").collect()[0]["seed_tag"] == "bloomidx"


def test_dsir_frames_face_matches_gate_split(spark):
    """dsir_weights_frames fed the gate op's own mod split must reproduce
    the gate op's scores exactly for the raw docs (the target side only
    trains p_target in both paths)."""
    from pdfparse_spark.pipeline.corpus import read_docs as _docs
    from pdfparse_spark.pipeline.dsir_model import (
        _DSIR_TARGET_MOD,
        docs_dsir_weights,
        dsir_weights_frames,
    )

    d = _docs(spark, SF)
    raw = d.filter(f"doc_id % {_DSIR_TARGET_MOD} != 0")
    tgt = d.filter(f"doc_id % {_DSIR_TARGET_MOD} = 0")
    gate = {
        r["doc_id"]: (r["n_feats"], r["log_w"], r["keep"])
        for r in docs_dsir_weights(spark, SF).collect()
        if r["doc_id"] % _DSIR_TARGET_MOD != 0
    }
    from pdfparse_spark.pipeline.dsir_model import _DSIR_BUCKETS

    frames = {
        r["doc_id"]: (r["n_feats"], r["log_w"], r["keep"])
        for r in dsir_weights_frames(
            spark, raw, tgt, buckets=_DSIR_BUCKETS, log_domain=False
        ).collect()
    }
    assert frames == gate


def test_dsir_log_domain_matches_cross_product(spark):
    """The production log-domain λ (ln(ct+1) − ln(Tt+B) − ln(cr+1) +
    ln(Tr+B)) must equal the gate's exact-integer cross-product λ to fp
    tolerance at gate scale — same buckets, same split, scores within one
    rounding step and identical keep verdicts."""
    from pdfparse_spark.pipeline.corpus import read_docs as _docs
    from pdfparse_spark.pipeline.dsir_model import (
        _DSIR_BUCKETS,
        _DSIR_TARGET_MOD,
        dsir_weights_frames,
    )

    d = _docs(spark, SF)
    raw = d.filter(f"doc_id % {_DSIR_TARGET_MOD} != 0")
    tgt = d.filter(f"doc_id % {_DSIR_TARGET_MOD} = 0")
    cross = {
        r["doc_id"]: r
        for r in dsir_weights_frames(
            spark, raw, tgt, buckets=_DSIR_BUCKETS, log_domain=False
        ).collect()
    }
    logd = {
        r["doc_id"]: r
        for r in dsir_weights_frames(
            spark, raw, tgt, buckets=_DSIR_BUCKETS, log_domain=True
        ).collect()
    }
    assert set(cross) == set(logd) and len(cross) > 100
    for did, c in cross.items():
        l = logd[did]
        assert l["n_feats"] == c["n_feats"]
        # both round to 4 decimals from inputs an ulp apart — at most one
        # rounding step apart
        assert abs(l["log_w"] - c["log_w"]) <= 1.5e-4, did
        assert l["keep"] == c["keep"], did


def test_dsir_production_buckets_default(spark):
    """The frames face defaults to the published 10k-bucket hashed space:
    bucket ids observed under the default exceed the gate's 1024 space
    (the one-constant scale-up is real, not cosmetic), and semantics hold
    (target-vocab docs keep, pool docs drop)."""
    from pdfparse_spark.pipeline.dsir_model import _dsir_fb, _DSIR_PROD_BUCKETS

    from pyspark.sql import functions as F

    assert _DSIR_PROD_BUCKETS == 10_000
    docs = spark.createDataFrame(
        [(i, "word%d filler%d tail%d" % (i, i * 7, i * 13)) for i in range(400)],
        "doc_id long, text string",
    )
    toks = docs.select(
        "doc_id",
        F.expr(
            "filter(split(lower(text), '[^a-z0-9]+'), x -> x != '')"
        ).alias("arr"),
    )
    mx = (
        _dsir_fb(toks, F.lit(False), buckets=_DSIR_PROD_BUCKETS)
        .agg(F.max("b").alias("m"))
        .collect()[0]["m"]
    )
    assert mx >= 1024  # features really land beyond the gate space


def test_dsir_model_roundtrip_matches_frames(spark, tmp_path):
    """train_dsir_model → score_with_dsir_model must reproduce
    dsir_weights_frames exactly (same buckets, same log-domain λ) — the
    persisted model IS the frames face split into train/apply halves."""
    from pdfparse_spark.pipeline.dsir_model import (
        score_with_dsir_model,
        train_dsir_model,
    )
    from pdfparse_spark.pipeline.corpus import read_docs as _docs
    from pdfparse_spark.pipeline.dsir_model import _DSIR_TARGET_MOD, dsir_weights_frames

    d = _docs(spark, SF)
    raw = d.filter(f"doc_id % {_DSIR_TARGET_MOD} != 0")
    tgt = d.filter(f"doc_id % {_DSIR_TARGET_MOD} = 0")
    model = str(tmp_path / "dsir_model")
    stats = train_dsir_model(spark, raw, tgt, model, buckets=1024)
    assert stats["buckets"] == 1024 and 0 < stats["n_buckets_seen"] <= 1024
    assert stats["tt"] > 0 and stats["tr"] > 0

    inplan = {
        r["doc_id"]: (r["n_feats"], r["log_w"], r["keep"])
        for r in dsir_weights_frames(
            spark, raw, tgt, buckets=1024, log_domain=True
        ).collect()
    }
    stored = {
        r["doc_id"]: (r["n_feats"], r["log_w"], r["keep"])
        for r in score_with_dsir_model(spark, raw, model).collect()
    }
    assert stored == inplan

    # scoring a DIFFERENT frame than the training pool works (the whole
    # point of persistence): unseen docs still get one row each
    extra = spark.createDataFrame(
        [(9001, "alpha beta gamma"), (9002, "~~~")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in score_with_dsir_model(spark, extra, model).collect()}
    assert set(got) == {9001, 9002}
    assert got[9002]["n_feats"] == 0 and got[9002]["log_w"] == 0.0


def test_dsir_model_feature_tag_guard(spark, tmp_path, monkeypatch):
    """A model trained under a different feature space must be REFUSED at
    score time, not silently mis-scored — the bloom-index seed lesson."""
    import pytest

    from pdfparse_spark.pipeline import dsir_model as dm

    raw = spark.createDataFrame(
        [(i, "pool doc %d" % i) for i in range(10)], "doc_id long, text string"
    )
    tgt = spark.createDataFrame(
        [(0, "target doc")], "doc_id long, text string"
    )
    model = str(tmp_path / "m")
    dm.train_dsir_model(spark, raw, tgt, model, buckets=256)
    monkeypatch.setattr(dm, "_FEAT_TAG", "dsir-uni+bi+tri-md5")
    with pytest.raises(ValueError, match="feature space"):
        dm.score_with_dsir_model(spark, raw, model)


def test_dsir_frames_colliding_ids_never_score_target(spark):
    """Raw and target are SEPARATE tables whose doc_ids may collide: a
    target row sharing a raw row's id must contribute to p_target only —
    never to that raw doc's features or score.  Pinned by giving the
    colliding target row a big distinct vocabulary: any leak would inflate
    the raw doc's n_feats and drag its log_w positive."""
    from pdfparse_spark.pipeline.dsir_model import dsir_weights_frames

    raw = spark.createDataFrame(
        [
            (1, "one two three"),
            (2, "one two three"),
            (3, "alpha beta gamma"),
            # extra pool rows keep Tr > Tt so the shared-feature lambda
            # (ct=1, cr=1) is strictly positive, not exactly 0
            (4, "one two three"),
            (5, "one two three"),
        ],
        "doc_id long, text string",
    )
    tgt = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in dsir_weights_frames(spark, raw, tgt).collect()}
    assert set(rows) == {1, 2, 3, 4, 5}
    # raw doc 1 has 3 unigrams + 2 bigrams = 5 features — a leak of the
    # colliding target row's 8+7 features would show here
    assert rows[1]["n_feats"] == 5
    # identical raw texts must score identically regardless of id collision
    assert (rows[1]["log_w"], rows[1]["keep"]) == (rows[2]["log_w"], rows[2]["keep"])
    # the target-vocab raw doc leans target; the pool docs lean raw
    assert rows[3]["log_w"] > 0 and rows[3]["keep"] == 1
    assert rows[1]["log_w"] < 0 and rows[1]["keep"] == 0


def test_decontaminate_jaccard_planted(spark, tmp_path):
    """A light paraphrase of a benchmark doc is flagged at the near-dup
    bar; a doc sharing only one shingle scores > 0 but stays clean; a
    disjoint doc reports zero candidates.  doc_id 0 (0 % 97 == 0) plays
    the benchmark item."""
    import pandas as pd

    bench = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    touching = "unrelated words here then alpha beta gamma something else entirely"
    clean = "one two three four five six seven eight nine ten eleven"
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": [bench, near, touching, clean],
            "lang": ["en"] * 4,
            "source": ["t"] * 4,
            "n_chars": [len(bench), len(near), len(touching), len(clean)],
        }
    )
    d = str(tmp_path)
    pdf.to_parquet(d + "/documents.parquet")
    from pdfparse_spark.pipeline.decon_index import decontaminate_jaccard

    rows = {r["doc_id"]: r for r in decontaminate_jaccard(spark, d).collect()}
    assert set(rows) == {1, 2, 3}  # the benchmark split itself is not scored
    # 10-token docs share 7 of their 8+8 distinct 3-shingles: j = 7/9
    assert rows[1]["contaminated"] == 1 and rows[1]["best_match"] == 0
    assert rows[1]["max_jaccard"] == round(7 / 9, 4)
    # one shared shingle: positive score, below the 0.5 bar
    assert rows[2]["n_candidates"] == 1 and rows[2]["contaminated"] == 0
    assert 0 < rows[2]["max_jaccard"] < 0.5
    # disjoint vocabulary: no candidate at all, sentinel best_match
    assert rows[3]["n_candidates"] == 0 and rows[3]["best_match"] == -1
    assert rows[3]["max_jaccard"] == 0.0 and rows[3]["contaminated"] == 0


def test_docs_repeat_plan_invariants(spark):
    """The integer plan is floor(x) plus at most one Bernoulli top-up,
    bounded by _REPEAT_MAX, deterministic under re-execution, and Σn is an
    unbiased estimate of Σx (4σ band over the fractional-part draws)."""
    import math

    from pdfparse_spark.pipeline.docorder import _REPEAT_MAX, docs_repeat_plan

    rows = docs_repeat_plan(spark, SF).collect()
    assert len(rows) == 500
    var = 0.0
    for r in rows:
        x, n = r["expected_repeats"], r["n_repeats"]
        assert 0.0 <= x <= _REPEAT_MAX
        assert n in (math.floor(x), math.floor(x) + 1)
        f = x - math.floor(x)
        var += f * (1.0 - f)
    tot_n = sum(r["n_repeats"] for r in rows)
    tot_x = sum(r["expected_repeats"] for r in rows)
    assert abs(tot_n - tot_x) <= 4.0 * math.sqrt(var) + 1.0
    again = docs_repeat_plan(spark, SF).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_ann_index_compaction_preserves_search(spark, tmp_path):
    """compact_index_ingests folds every ingest partition into one
    compacted base with a bounded file count, leaves search results
    byte-identical, and is idempotent."""
    import os

    from pyspark.sql import functions as F

    from pdfparse_spark.pipeline.ann_index import (
        build_ivfpq_index,
        compact_index_ingests,
        encode_into_index,
        search_ivfpq_index,
    )

    sf = "/root/testdata/sf0.001"
    idx = str(tmp_path / "idx")
    build_ivfpq_index(spark, sf, idx)
    base = spark.read.parquet(sf + "/embeddings.parquet")
    new_rows = base.filter(F.col("vec_id") < 4).select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding", "label"
    )
    encode_into_index(spark, idx, new_rows, ingest="a1")
    encode_into_index(spark, idx, new_rows.limit(2), ingest="a2")

    corpus = str(tmp_path / "corpus")
    base.unionByName(new_rows).write.parquet(corpus + "/embeddings.parquet")
    before = sorted(
        map(tuple, search_ivfpq_index(spark, corpus, idx).collect())
    )
    n_before = spark.read.parquet(idx + "/vectors").count()

    stats = compact_index_ingests(spark, idx, target_files=2)
    assert stats == {"n_vectors": n_before, "n_ingests_folded": 3}
    # one partition left, bounded file count, no stray tmp/old dirs
    parts = [p for p in os.listdir(idx + "/vectors") if p.startswith("ingest=")]
    assert parts == ["ingest=base"]
    files = [
        f for f in os.listdir(idx + "/vectors/ingest=base") if f.endswith(".parquet")
    ]
    assert 1 <= len(files) <= 2
    assert not os.path.exists(idx + "/vectors.compact.tmp")
    assert not os.path.exists(idx + "/vectors.old")

    after = sorted(map(tuple, search_ivfpq_index(spark, corpus, idx).collect()))
    assert after == before
    # idempotent: a second compaction folds the single base partition
    stats2 = compact_index_ingests(spark, idx, target_files=2)
    assert stats2 == {"n_vectors": n_before, "n_ingests_folded": 1}
    assert sorted(map(tuple, search_ivfpq_index(spark, corpus, idx).collect())) == before


def test_run_curate_cli_decon_filter(spark, tmp_path):
    """--decon-filter composes the benchmark-hygiene stage after every
    other leg: the six-way stage breakdown sums to docs_in, and the
    written doc set equals the oracled corpus_curate_decon gate query."""
    import contextlib, io, json

    from pdfparse_spark.pipeline.run_curate import main
    from pdfparse_spark.pipeline.curate import corpus_curate_decon, corpus_curate_dsir

    out = str(tmp_path / "curated_decon")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        main([
            "--sf-dir", SF, "--out", out, "--master", "local[8]",
            "--num-files", "4", "--lm-filter", "--dsir-filter", "--decon-filter",
        ])
    m = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert (
        m["docs_in"]
        == m["dropped_quality"] + m["dropped_near_dup"] + m["dropped_lm"]
        + m["dropped_dsir"] + m["dropped_decon"] + m["docs_curated"]
    )
    got = {r["doc_id"] for r in spark.read.parquet(out).select("doc_id").collect()}
    want = {
        r["doc_id"] for r in corpus_curate_decon(spark, SF).select("doc_id").collect()
    }
    assert got == want and m["docs_curated"] == len(got)
    # the leg drops exactly the prior-stage survivors the decon gate
    # rejects (at this corpus every bench-split doc already failed an
    # earlier leg, so the count may legitimately be 0)
    prior = {
        r["doc_id"] for r in corpus_curate_dsir(spark, SF).select("doc_id").collect()
    }
    assert m["dropped_decon"] == len(prior - want)
    assert all(i % 97 != 0 for i in got)


def test_docs_repeat_order_invariants(spark):
    """The materialized order is a 1..N permutation over exactly the
    plan's copies: every doc with n_repeats = k contributes copies 1..k,
    and rank order follows the independent per-copy md5 keys."""
    from pdfparse_spark.pipeline.docorder import docs_repeat_order, docs_repeat_plan

    plan = {
        r["doc_id"]: r["n_repeats"]
        for r in docs_repeat_plan(spark, SF).collect()
        if r["n_repeats"] > 0
    }
    rows = docs_repeat_order(spark, SF).collect()
    assert len(rows) == sum(plan.values())
    assert sorted(r["train_rank"] for r in rows) == list(range(1, len(rows) + 1))
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], []).append(r["copy_idx"])
        assert r["n_repeats"] == plan[r["doc_id"]]
    assert all(sorted(v) == list(range(1, plan[k] + 1)) for k, v in per_doc.items())
    ordered = sorted(rows, key=lambda r: r["train_rank"])
    assert [r["shuffle_key"] for r in ordered] == sorted(r["shuffle_key"] for r in rows)


def test_lr_model_roundtrip_scores_and_separates(spark, tmp_path):
    """train_lr_model → score_with_lr_model: the persisted raw-space fold
    must reproduce the standardized-space training margins exactly (keep
    verdicts pinned against a pure-Python left fold of the stored
    artifact — same IEEE-double op order, so bit-identical margins) and
    preserve class separation; wrong-dimension vectors score (NULL,
    false)."""
    import math

    from pdfparse_spark.pipeline.lr_model import (
        score_with_lr_model,
        train_lr_model,
    )
    from pdfparse_spark.pipeline.corpus import read_emb as _emb
    from pdfparse_spark.pipeline.lr_model import _LR_LABEL

    e = _emb(spark, SF)
    model = str(tmp_path / "lr_model")
    stats = train_lr_model(spark, e, model, iters=12)
    assert stats["dim"] == 64
    assert stats["p_pos"] > stats["p_neg"]  # converged toward separation

    scored = score_with_lr_model(spark, e, model)
    assert scored.count() == e.count()
    import pyspark.sql.functions as F

    sep = {
        r["is_t"]: r["avg_q"]
        for r in scored.groupBy(
            (F.col("label") == _LR_LABEL).alias("is_t")
        ).agg(F.avg("quality_score").alias("avg_q")).collect()
    }
    assert sep[True] > sep[False]

    # pure-Python replay of the stored artifact: left fold in index order
    # then + bias — the exact op order score_with_lr_model compiles to
    wrows = sorted(
        spark.read.parquet(model + "/weights").collect(), key=lambda r: r["pos"]
    )
    meta = spark.read.parquet(model + "/meta").collect()[0]
    w = [r["w"] for r in wrows]
    got = {r["vec_id"]: r for r in scored.collect()}
    for r in e.limit(32).collect():
        m = 0.0
        for x, wj in zip(r["embedding"], w):
            m += float(x) * wj
        m += meta["bias"]
        s = 1.0 / (1.0 + math.exp(-round(m, 6)))
        out = got[r["vec_id"]]
        assert out["keep"] == (m >= 0)
        # score is HALF_UP-rounded to 4 in-engine: quantization ±5e-5
        assert abs(out["quality_score"] - s) <= 6e-5

    # wrong-dim rows: never keep, never a silent wrong dot product
    bad = spark.createDataFrame(
        [(9001, [0.5] * 3, 0)], "vec_id long, embedding array<float>, label int"
    )
    br = score_with_lr_model(spark, bad, model).collect()[0]
    assert br["quality_score"] is None and br["keep"] is False


def test_lr_model_feature_tag_guard(spark, tmp_path, monkeypatch):
    """A model stored under a different scoring convention must be REFUSED
    at score time, not silently mis-applied — the bloom-index seed
    lesson, fourth lifecycle instance."""
    from pdfparse_spark.pipeline import lr_model as lm
    from pdfparse_spark.pipeline.corpus import read_emb as _emb

    model = str(tmp_path / "m")
    lm.train_lr_model(spark, _emb(spark, SF).limit(200), model, iters=2)
    monkeypatch.setattr(lm, "_FEAT_TAG", "embed-lr-stdspace-v2")
    with pytest.raises(ValueError, match="convention"):
        lm.score_with_lr_model(spark, _emb(spark, SF), model)


def test_lr_model_refuses_ragged_training_frame(spark, tmp_path):
    """Mixed vector dimensions at TRAIN time would NULL out of the
    standardized zip_with and silently deflate every gradient — the
    train-time twin of the score-time dim guard must refuse the frame."""
    from pdfparse_spark.pipeline.lr_model import train_lr_model

    ok = [(i, [0.1 * i] * 4, i % 2) for i in range(8)]
    ragged = [(100, [0.5] * 2, 0)]
    embs = spark.createDataFrame(
        ok + ragged, "vec_id long, embedding array<float>, label int"
    )
    with pytest.raises(ValueError, match="vector length"):
        train_lr_model(spark, embs, str(tmp_path / "m"), iters=1)


def test_docs_split_holdout_invariants(spark):
    """Exact per-stratum quotas: every source holds out exactly
    ⌈frac·n_source⌉ docs as val, ranks are dense 1..n_source, and the
    split is deterministic across runs (doc_id-keyed draw, no RNG)."""
    import math

    from pdfparse_spark.pipeline.docorder import _HOLDOUT_FRAC, docs_split_holdout

    rows = docs_split_holdout(spark, SF).collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    assert len(rows) == 500 and len(by_src) > 1
    for src, rs in by_src.items():
        n = len(rs)
        quota = math.ceil(_HOLDOUT_FRAC * n)
        assert sum(r["split"] == "val" for r in rs) == quota, src
        assert sorted(r["holdout_rank"] for r in rs) == list(range(1, n + 1))
        # val is exactly the quota lowest ranks
        assert {r["holdout_rank"] for r in rs if r["split"] == "val"} == set(
            range(1, quota + 1)
        )
    again = {
        (r["doc_id"]): (r["holdout_rank"], r["split"])
        for r in docs_split_holdout(spark, SF).collect()
    }
    assert again == {r["doc_id"]: (r["holdout_rank"], r["split"]) for r in rows}


def test_docs_curriculum_order_invariants(spark):
    """Dense 1..N rank with quality non-decreasing along it (ties broken
    by doc_id) — the two-phase banded rank must equal a global sort."""
    from pdfparse_spark.pipeline.docorder import docs_curriculum_order

    rows = sorted(
        docs_curriculum_order(spark, SF).collect(),
        key=lambda r: r["curriculum_rank"],
    )
    assert [r["curriculum_rank"] for r in rows] == list(range(1, len(rows) + 1))
    for a, b in zip(rows, rows[1:]):
        assert (a["quality"], a["doc_id"]) < (b["quality"], b["doc_id"])


def test_run_curate_cli_curriculum_order(spark, tmp_path):
    """--order curriculum: the SAME curated doc set as the default run,
    but shuffle_rank ascends in the quality composite (ties by doc_id) —
    docs_curriculum_order's policy restricted to the survivors."""
    import contextlib, io, json

    from pdfparse_spark.pipeline.run_curate import main
    from pdfparse_spark.pipeline.curate import corpus_curate
    from pdfparse_spark.pipeline.docorder import docs_curriculum_order

    out = str(tmp_path / "curated")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        main([
            "--sf-dir", SF, "--out", out, "--master", "local[8]",
            "--num-files", "4", "--order", "curriculum",
        ])
    m = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert m["order"] == "curriculum"
    assert m["docs_in"] == m["dropped_quality"] + m["dropped_near_dup"] + m["docs_curated"]

    got = spark.read.parquet(out)
    want_ids = {r["doc_id"] for r in corpus_curate(spark, SF).select("doc_id").collect()}
    assert {r["doc_id"] for r in got.select("doc_id").collect()} == want_ids
    # rank order == the corpus-wide curriculum order restricted to the
    # survivor set (dense 1..N after restriction)
    corpus_rank = {
        r["doc_id"]: r["curriculum_rank"]
        for r in docs_curriculum_order(spark, SF).collect()
    }
    rows = sorted(got.collect(), key=lambda r: r["shuffle_rank"])
    assert [r["shuffle_rank"] for r in rows] == list(range(1, len(rows) + 1))
    assert [r["doc_id"] for r in rows] == sorted(
        want_ids, key=lambda i: corpus_rank[i]
    )


def test_run_curate_cli_holdout(spark, tmp_path):
    """--holdout-dir carves the exact stratified val slice BEFORE any
    filtering: the val parquet holds exactly docs_split_holdout's val
    set, the curated output is disjoint from it, and the stage counts
    still sum to docs_in with held_out included."""
    import contextlib, io, json

    from pdfparse_spark.pipeline.run_curate import main
    from pdfparse_spark.pipeline.docorder import docs_split_holdout

    out = str(tmp_path / "curated")
    hold = str(tmp_path / "val")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        main([
            "--sf-dir", SF, "--out", out, "--master", "local[8]",
            "--num-files", "4", "--holdout-dir", hold,
        ])
    m = json.loads(buf.getvalue().strip().splitlines()[-1])
    want_val = {
        r["doc_id"]
        for r in docs_split_holdout(spark, SF).filter("split = 'val'").collect()
    }
    assert m["held_out"] == len(want_val) > 0
    assert m["docs_in"] == (
        m["held_out"] + m["dropped_quality"] + m["dropped_near_dup"]
        + m["docs_curated"]
    )
    got_val = spark.read.parquet(hold)
    assert {r["doc_id"] for r in got_val.select("doc_id").collect()} == want_val
    assert set(got_val.columns) == {
        "doc_id", "holdout_rank", "lang", "source", "n_chars", "text"
    }
    curated_ids = {
        r["doc_id"] for r in spark.read.parquet(out).select("doc_id").collect()
    }
    assert curated_ids.isdisjoint(want_val)
