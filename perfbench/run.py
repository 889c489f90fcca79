"""Repository benchmark: steady-state extraction workloads.

    python3 perfbench/run.py --workload pdf_heavy --seed 1 --seconds 12 --trace 0

Run from the repository root.  With ``--trace 0`` the last stdout line is
the end-to-end result (turns_per_s, setup_s, peak_rss_mb,
golden_match_rate); with ``--trace 1`` it is the per-layer breakdown named
in BENCHMARK.json.  Earlier ``# shape`` / ``# series`` / ``# context`` lines
record the input's shape, the per-pass timings and the run context.  See
perfbench/README.md for the metric -> layer -> workload map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("pdf_heavy", "light_turns")


def _emit(tag: str, obj) -> None:
    print("# %s %s" % (tag, json.dumps(obj, sort_keys=True)), flush=True)


def _turns_by_type(inputs: dict) -> tuple[dict[str, list[str]], set[str]]:
    """The workload's turn texts, by golden content type, in input order,
    and the texts whose golden parse_status is not "ok"."""
    import pyarrow.parquet as pq

    golden = pq.read_table(inputs["golden"], columns=["conv_id", "turn_idx", "g_content_type", "g_status"])
    gold = {(r["conv_id"], r["turn_idx"]): r for r in golden.to_pylist()}
    out: dict[str, list[str]] = {}
    not_ok: set[str] = set()
    for r in pq.read_table(inputs["input"], columns=["conv_id", "turn_idx", "text"]).to_pylist():
        g = gold[(r["conv_id"], r["turn_idx"])]
        out.setdefault(g["g_content_type"], []).append(r["text"])
        if g["g_status"] != "ok":
            not_ok.add(r["text"])
    return out, not_ok


def _traced_phase(spark, passes, inputs, tracer, seconds: float, untraced_tps: float):
    """Restart the session with the event log on, rerun the timed phase with
    spans, then the layer ladder and the resumable path.  Stops the session
    (which completes the event log) and returns (metrics, traced pass dirs,
    resumable (out, ledger) dirs)."""
    import harness
    import layers

    n_turns = inputs["shape"]["turns"]
    log_dir = os.path.join(passes.run_dir, "eventlog")
    spark.stop()
    with tracer.span("setup.eventlog_session"):
        spark = harness.open_session(log_dir)
        harness.run_pass(spark, inputs["input"], passes.next_dir())
    spark.sparkContext.setJobGroup("workload", "perfbench timed passes")
    with tracer.span("workload"):
        done, _ = harness.timed_passes(spark, passes, inputs, seconds)
    traced_tps = harness.median_rate(done, n_turns)
    pass_s = statistics.median(w for _, w in done)
    with tracer.span("ladder"):
        wall = layers.spark_ladder(spark, tracer, inputs["input"])
    m, resume_dirs = layers.resume_layers(spark, tracer, inputs["input"], passes.run_dir, n_turns)
    spark.stop()
    groups = {"workload": len(done), "resume": 1, **{r: layers.LADDER_REPS for r in layers.RUNGS}}
    m.update(harness.reduce_event_log(log_dir, groups))
    m.update(
        {
            "sources.scan_s": wall["scan"],
            "pipeline.shuffle_s": wall["shuffle"] - wall["scan"],
            "pipeline.arrow_crossing_s": wall["crossing"] - wall["shuffle"],
            "pipeline.kernel_in_spark_s": wall["kernel"] - wall["crossing"],
            "sources.write_s": pass_s - wall["kernel"],
            "pipeline.workload_pass_s": pass_s,
            "trace.overhead_ratio": traced_tps / untraced_tps,
            "trace.turns_per_s": traced_tps,
        }
    )
    return m, [d for d, _ in done], resume_dirs


def run(args) -> dict:
    import harness

    t_start = time.perf_counter()
    cache = os.path.join(ROOT, ".bench_cache")
    harness.isolate(cache)
    # Python workers unpickle the benchmark-side mapInPandas bodies by module
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    import workloads

    canary_before = harness.canary_ms()
    inputs = workloads.ensure_inputs(cache, args.workload, args.seed)
    shape = inputs["shape"]
    n_turns = shape["turns"]
    _emit("shape", dict(shape, workload=args.workload, seed=args.seed))

    run_id = "%s_s%d_%d_%d" % (args.workload, args.seed, os.getpid(), time.time_ns())
    passes = harness.Passes(os.path.join(cache, "runs", run_id))
    m: dict[str, float] = {}
    if args.trace:
        import layers

        tracer = layers.Tracer(run_id)
        with tracer.span("kernel"):
            m.update(layers.kernel_layers(tracer, *_turns_by_type(inputs), args.seed))

    phase = {"inputs_s": time.perf_counter() - t_start}
    spark = None
    try:
        t0 = time.perf_counter()
        spark, setup_s, setup_detail = harness.setup(passes, inputs)
        phase["setup_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        done, rss_series = harness.timed_passes(spark, passes, inputs, args.seconds)
        phase["timed_s"] = time.perf_counter() - t0
        turns_per_s = harness.median_rate(done, n_turns)
        series = dict(
            setup_detail,
            timed_passes_s=[w for _, w in done],
            peak_rss_mb=[b / 1e6 for b in rss_series],
        )
        pass_dirs = [d for d, _ in done]
        resume_dirs = None
        if args.trace:
            t0 = time.perf_counter()
            traced, traced_dirs, resume_dirs = _traced_phase(
                spark, passes, inputs, tracer, args.seconds, turns_per_s
            )
            m.update(traced)
            pass_dirs += traced_dirs
            phase["traced_s"] = time.perf_counter() - t0
            spark = harness.open_session()
        t0 = time.perf_counter()
        outputs = [spark.read.parquet(d) for d in pass_dirs]
        if resume_dirs:
            from pdfparse_spark.pipeline.resume import read_output

            outputs.append(read_output(spark, *resume_dirs))
        attempted, failed = harness.check_outputs(spark, inputs["golden"], outputs)
        phase["check_s"] = time.perf_counter() - t0
    finally:
        if spark is not None:
            t0 = time.perf_counter()
            harness.shutdown(spark)
            phase["shutdown_s"] = time.perf_counter() - t0
    canary_after = harness.canary_ms()
    _emit("series", series)
    _emit(
        "context",
        {
            "slots": harness.SLOTS,
            "partitions": harness.PARTITIONS,
            "arrow_batch": harness.ARROW_BATCH,
            "driver_mem": harness.DRIVER_MEM,
            "pyspark": __import__("pyspark").__version__,
            "pyarrow": __import__("pyarrow").__version__,
            "python": sys.version.split()[0],
            "seed": args.seed,
            "seconds": args.seconds,
            "phase_s": phase,
            "host.canary_ms.before": statistics.median(canary_before),
            "host.canary_ms.after": statistics.median(canary_after),
        },
    )
    correct = failed == 0
    if args.trace:
        rounds = setup_detail["rounds"]
        m["setup.session_s"] = statistics.median(r["session_s"] for r in rounds)
        m["setup.warm_s"] = setup_s - m["setup.session_s"]
        m["host.canary_ms"] = statistics.median(canary_before + canary_after)
        ceiling = harness.SLOTS * 1000 / m["kernel.core_ms_per_turn"]
        m["pipeline.parallel_efficiency"] = m["trace.turns_per_s"] / ceiling
        correct = correct and m["pipeline.resume.rerun_turns"] == 0
        os.makedirs(os.path.join(cache, "traces"), exist_ok=True)
        tracer.write(os.path.join(cache, "traces", run_id + ".spans.jsonl"))
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            names = json.load(f)["per_layer"]
        metrics = {x["name"]: {"value": m[x["name"]], "unit": x["unit"]} for x in names}
    else:
        metrics = {
            "turns_per_s": {"value": turns_per_s, "unit": "turns/s"},
            "setup_s": {"value": setup_s, "unit": "s"},
            "peak_rss_mb": {"value": statistics.median(rss_series) / 1e6, "unit": "MB"},
            "golden_match_rate": {"value": (attempted - failed) / attempted, "unit": "ratio"},
        }
    shutil.rmtree(passes.run_dir, ignore_errors=True)
    return {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "pdfparse_spark")):
        print("perfbench: run from the repository root (no pdfparse_spark/ in %s)" % ROOT, file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    print(json.dumps(run(args), sort_keys=True), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
