"""The shared artifact-and-stream core (pipeline/artifact.py): table swaps
through the index dir's Hadoop FS, exact checkpoint release, and the
decon batch face's no-persist contract."""

from __future__ import annotations

import os
import shutil

from pyspark import StorageLevel
from pyspark.sql import functions as F

from .test_pipeline_spark import SF  # the shared sf0.001 test corpus


def _persisted_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_index_maintenance_on_file_uri_matches_plain_path(spark, tmp_path):
    """extend_bloom_index → compact_bloom_deltas(remove_deltas=True) →
    compact_index_ingests on an index dir given as a ``file://`` URI:
    every swap and delete goes through the Hadoop FS, the results read
    back identical to the same run on a plain path, and no staging or
    ``.old`` dir (nor the folded ``deltas/``) is left behind."""
    from pdfparse_spark.pipeline.ann_index import (
        build_ivfpq_index,
        compact_index_ingests,
        encode_into_index,
    )
    from pdfparse_spark.pipeline.bloom_index import (
        bloom_index_stats,
        build_bloom_index,
        compact_bloom_deltas,
        extend_bloom_index,
        probe_bloom_index,
    )

    schema = "doc_id long, text string"
    texts = ["base crawl doc", "extended increment doc", "streamed delta doc"]
    probe = spark.createDataFrame(
        list(enumerate(texts + ["never indexed text"])), schema
    )
    # a streaming delta partition = the words of a filter over one text
    delta_src = str(tmp_path / "delta_src")
    build_bloom_index(spark, spark.createDataFrame([(0, texts[2])], schema), delta_src)
    ann_built = str(tmp_path / "ann_built")
    build_ivfpq_index(spark, SF, ann_built)
    emb = spark.read.parquet(SF + "/embeddings.parquet")
    new_rows = emb.filter(F.col("vec_id") < 4).select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding", "label"
    )

    def run(local_dir: str, index_dir: str):
        bloom, ann = index_dir + "/bloom", index_dir + "/ann"
        build_bloom_index(spark, spark.createDataFrame([(0, texts[0])], schema), bloom)
        extend_bloom_index(spark, spark.createDataFrame([(1, texts[1])], schema), bloom)
        spark.read.parquet(delta_src + "/words").write.parquet(
            bloom + "/deltas/ck=t/batch=0"
        )
        compact_bloom_deltas(spark, bloom, remove_deltas=True)
        shutil.copytree(ann_built, local_dir + "/ann")
        encode_into_index(spark, ann, new_rows, ingest="a1")
        ann_stats = compact_index_ingests(spark, ann, target_files=2)
        hits = sorted(
            (r["doc_id"], r["bloom_hit"])
            for r in probe_bloom_index(spark, probe, bloom, include_deltas=False).collect()
        )
        vectors = sorted(
            map(tuple, spark.read.parquet(ann + "/vectors").orderBy("vec_id").collect())
        )
        left = sorted(
            name
            for _, dirs, _ in os.walk(local_dir)
            for name in dirs
            if name.endswith((".old", "_old", "tmp")) or name == "deltas"
        )
        return hits, bloom_index_stats(spark, bloom), ann_stats, vectors, left

    plain = str(tmp_path / "plain")
    uri_local = str(tmp_path / "uri")
    os.makedirs(plain)
    os.makedirs(uri_local)
    want = run(plain, plain)
    got = run(uri_local, "file://" + uri_local)
    assert want[0] == [(0, 1), (1, 1), (2, 1), (3, 0)]
    assert want[2]["n_ingests_folded"] == 2
    assert want[4] == []
    assert got == want


def test_release_rdds_frees_only_the_checkpoint(spark):
    """local_checkpoint records the id of the RDD holding its blocks and
    release_rdds frees exactly that: frames persisted before the
    checkpoint (A) and after it by a concurrent job (C) stay persisted."""
    from pdfparse_spark.pipeline.artifact import local_checkpoint, release_rdds

    pre = _persisted_ids(spark)
    a = spark.range(100).selectExpr("id * 3 AS a").persist()
    a.count()
    a_ids = _persisted_ids(spark) - pre
    ch, ck_ids = local_checkpoint(spark.range(50).selectExpr("id * 2 AS x"))
    assert ch.count() == 50
    assert ck_ids and ck_ids <= _persisted_ids(spark)
    mid = _persisted_ids(spark)
    c = spark.range(70).selectExpr("id * 5 AS c").persist()
    c.count()
    c_ids = _persisted_ids(spark) - mid
    assert a_ids and c_ids and not (ck_ids & (a_ids | c_ids))

    release_rdds(spark, ck_ids)
    post = _persisted_ids(spark)
    assert a_ids <= post and c_ids <= post
    assert not (ck_ids & post)
    a.unpersist()
    c.unpersist()


def test_decon_batch_face_persists_nothing(spark, tmp_path):
    """score_with_decon_index leaves no cached index table and adds no
    persisted RDD, even after its result is consumed — a long-lived
    session running the batch face repeatedly accumulates nothing."""
    from pdfparse_spark.pipeline.decon_index import (
        build_decon_index,
        score_with_decon_index,
    )

    schema = "doc_id long, text string"
    bench = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog again")], schema
    )
    docs = spark.createDataFrame(
        [
            (1, "we saw the quick brown fox jumps over the lazy dog today"),
            (2, "nothing here overlaps with any benchmark text at all"),
        ],
        schema,
    )
    idx = str(tmp_path / "idx")
    build_decon_index(spark, bench, idx)
    pre = _persisted_ids(spark)
    got = {
        r["doc_id"]: r["contaminated"]
        for r in score_with_decon_index(spark, docs, idx).collect()
    }
    assert got == {1: 1, 2: 0}
    assert _persisted_ids(spark) - pre == set()
    for name in ("grams5", "sh3", "sizes"):
        level = spark.read.parquet(idx + "/" + name).storageLevel
        assert level == StorageLevel.NONE, name
