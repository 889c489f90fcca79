"""Regenerate BENCH/PLANS.md: formatted physical plans for representative
queries, with the plan-hygiene properties each one demonstrates.

Usage: python scripts/dump_plans.py  (OVERWRITES BENCH/PLANS.md - re-append the
hand-written dossiers after the generated CASES before committing; sf0.001 inputs -
the plan shape, not the data volume, is the artifact)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"

CASES = [
    (
        "extraction stage (classify → salt → mapInArrow kernel)",
        "flagship",
        "One narrow Python stage after one explicit salted Exchange; only the "
        "6 input columns are read (ReadSchema), and the fat `text` column "
        "never crosses a second shuffle.",
    ),
    (
        "q3_top_orders",
        "q3_top_orders",
        "Broadcast joins for the small dims (customer), filters pushed into "
        "every parquet scan (PushedFilters), TakeOrderedAndProject for the "
        "top-k — no global sort.",
    ),
    (
        "dedup_minhash_lsh",
        "dedup_minhash_lsh",
        "Candidate generation is an EQUALITY join on band keys — no "
        "CartesianProduct anywhere (at this toy scale AQE broadcasts the "
        "tiny sides; at volume the same plan becomes a shuffle join on the "
        "band key); verification touches only candidate pairs.",
    ),
    (
        "sim_ann_lsh (multi-band sign-LSH)",
        "sim_ann_lsh",
        "The 8x8-bit random-hyperplane band keys are one constant-folded "
        "Literal + transform/aggregate HOFs inside whole-stage codegen (no "
        "Python, no 4096-node expression tree); candidates come from an "
        "EQUALITY join on the exploded band_key — never a cross join against "
        "the corpus — and the exact-cosine rerank touches candidates only.",
    ),
    (
        "events_asof_join",
        "events_asof_join",
        "As-of join as union + one window pass: both event scans carry "
        "pushed event_type filters; a single hashpartitioning(user_id) "
        "Exchange feeds both window functions (shared sort).",
    ),
    (
        "decontaminate_ngram",
        "decontaminate_ngram",
        "Benchmark shingles land on the BuildRight side of a "
        "BroadcastHashJoin LeftSemi — the training side never shuffles for "
        "the membership test; one doc_id hash aggregate follows.",
    ),
    (
        "text_gopher_quality",
        "text_gopher_quality",
        "Both n-gram aggregates key on (doc_id, gram) — partial "
        "(map-side) HashAggregate before each Exchange, so a hot vocabulary "
        "term cannot concentrate on one reducer.",
    ),
    (
        "corpus_curate",
        "corpus_curate",
        "The composed curation decision as ONE plan: the gopher legs keep "
        "their (doc_id, gram)-keyed partial aggregates, the cluster "
        "survivor legs join on doc_id only (the fat text column never "
        "crosses a join), and the final rank reuses the two-phase bucket "
        "scheme.  Left-anti joins implement 'passed AND not displaced'.",
    ),
    (
        "docs_global_shuffle",
        "docs_global_shuffle",
        "Two-phase global rank: per-bucket row_number under "
        "hashpartitioning(bkt) plus a broadcast 256-row bucket-offset "
        "join.  The only SinglePartition exchange in the plan carries the "
        "256 offset rows, never the corpus — a naive ORDER BY rank would "
        "funnel every row through one task.",
    ),
]


def main() -> int:
    from pyspark.sql import functions as F

    import __spark_entry__ as e
    from pdfparse_spark.pipeline.extract import run_extraction
    from pdfparse_spark.pipeline.session import get_spark
    from pdfparse_spark.pipeline.transcripts import synthesize

    spark = get_spark(master="local[4]", shuffle_partitions=8, app_name="plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = e.queries()

    out = [
        "# BENCH/PLANS.md — physical-plan dossier\n",
        "Formatted plans (`.explain` output) for representative operators, "
        "regenerated by `python scripts/dump_plans.py`.  The pytest suite "
        "pins the load-bearing properties (no CartesianProduct/BNLJ outside "
        "the n-x-k centroid allowlist, pushed filters, broadcast dims, "
        "zero-Exchange bucketed joins); this file makes them reviewable.\n",
    ]
    for title, key, commentary in CASES:
        if key == "flagship":
            df, _ = synthesize(spark, n_convs=4, turns_per_conv=4, seed=1)
            plan_df = run_extraction(df, num_partitions=8)
        else:
            plan_df = qs[key](spark, SF)
        plan = plan_df._sc._jvm.PythonSQLUtils.explainString(
            plan_df._jdf.queryExecution(), "formatted"
        )
        out.append(f"## {title}\n\n{commentary}\n\n```\n{plan.strip()}\n```\n")

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCH", "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print("wrote", path)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
