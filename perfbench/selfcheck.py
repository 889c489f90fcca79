"""Tiny-input self-check of the benchmark harness (about a minute).

    python3 perfbench/selfcheck.py

Run from the repository root.  Checks that inputs are a pure function of
the seed, that the golden check passes the program's real output and
catches a changed, a missing and a duplicated turn, that span self time is
computed as documented, that the event-log reduction sees the job groups,
and that the benchmark refuses to run outside a repository checkout.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit("selfcheck FAILED: " + what)
    print("ok  " + what, flush=True)


def _read(path: str):
    import pyarrow.parquet as pq

    return pq.read_table(path).to_pylist()


def check_inputs(cache: str) -> dict:
    import workloads

    a = workloads.ensure_inputs(os.path.join(cache, "a"), "pdf_heavy", 7, size=3)
    b = workloads.ensure_inputs(os.path.join(cache, "b"), "pdf_heavy", 7, size=3)
    c = workloads.ensure_inputs(os.path.join(cache, "c"), "pdf_heavy", 8, size=3)
    expect(_read(a["input"]) == _read(b["input"]), "same seed gives the same input rows")
    expect(_read(a["golden"]) == _read(b["golden"]), "same seed gives the same goldens")
    expect(_read(a["input"]) != _read(c["input"]), "another seed gives other input rows")
    expect(a["shape"]["turns"] == 60 and a["shape"]["mix"]["pdf"] == 0.3, "pdf_heavy shape is 20 turns/conv, 30% pdf")
    light = workloads.ensure_inputs(os.path.join(cache, "a"), "light_turns", 7, size=30)
    expect("pdf" not in light["shape"]["mix"], "light_turns has no PDF turns")
    expect(light["shape"]["hot_key_share"] > 0.05, "light_turns keeps its hot conversation")
    return a


def check_golden(cache: str, inputs: dict) -> None:
    from pyspark.sql import functions as F

    import harness

    log_dir = os.path.join(cache, "eventlog")
    spark = harness.open_session(log_dir)
    try:
        spark.sparkContext.setJobGroup("workload", "selfcheck pass")
        out_dir = os.path.join(cache, "pass")
        harness.run_pass(spark, inputs["input"], out_dir)
        out = spark.read.parquet(out_dir)
        n = inputs["shape"]["turns"]
        expect(harness.check_outputs(spark, inputs["golden"], [out, out]) == (2 * n, 0),
               "real output matches its goldens on every turn of two passes")
        changed = out.withColumn(
            "extracted_text",
            F.when(F.col("turn_idx") == 0, F.concat("extracted_text", F.lit("x"))).otherwise(F.col("extracted_text")),
        )
        n_convs = out.select("conv_id").distinct().count()
        expect(harness.check_outputs(spark, inputs["golden"], [changed]) == (n, n_convs),
               "a changed extracted_text fails exactly its turns")
        expect(harness.check_outputs(spark, inputs["golden"], [out.filter(F.col("turn_idx") != 1)]) == (n, n_convs),
               "a missing turn fails")
        expect(harness.check_outputs(spark, inputs["golden"], [out.unionByName(out.limit(1))]) == (n, 1),
               "a duplicated turn fails")
    finally:
        spark.stop()
    red = harness.reduce_event_log(log_dir, {"workload": 1})
    expect(red["spark.workload.tasks"] >= harness.PARTITIONS, "event log reduced per job group")
    expect(red["spark.workload.task_s"] > 0, "event log carries task time")
    harness.shutdown(spark)


def check_tracer() -> None:
    import time

    import layers

    t = layers.Tracer("selfcheck")
    with t.span("outer") as outer:
        with t.span("inner") as inner:
            time.sleep(0.01)
    path = os.path.join(tempfile.mkdtemp(), "spans.jsonl")
    t.write(path)
    import json

    with open(path) as f:
        rows = [json.loads(line) for line in f]
    shutil.rmtree(os.path.dirname(path))
    expect(rows[1]["parent"] == 0 and rows[0]["parent"] is None, "span parents are the enclosing span")
    expect(
        rows[0]["self_ns"] == (outer["end"] - outer["start"]) - (inner["end"] - inner["start"]),
        "span self time is its duration minus its children's",
    )


def check_refuses_bare_dir() -> None:
    bare = tempfile.mkdtemp()
    try:
        shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "pdf_heavy", "--seed", "1",
             "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=170,
        )
    finally:
        shutil.rmtree(bare)
    expect(proc.returncode != 0 and not proc.stdout.strip(), "refuses to run without the program, printing no result")


def main() -> int:
    cache = os.path.join(ROOT, ".bench_cache", "selfcheck")
    shutil.rmtree(cache, ignore_errors=True)
    import harness

    harness.isolate(cache)
    os.environ["PYTHONPATH"] = os.pathsep.join([HERE, os.environ.get("PYTHONPATH", "")])
    inputs = check_inputs(cache)
    check_tracer()
    check_refuses_bare_dir()
    check_golden(cache, inputs)
    shutil.rmtree(cache, ignore_errors=True)
    print("selfcheck passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
