"""Per-layer measurements for the traced run.

Every number here comes from timing or counting calls into the program's
public functions from the benchmark's own code; the program is unchanged.
Spans (name, start, end, parent, run id) are kept in memory by ``Tracer``
and written out once at the end of the run.
"""

from __future__ import annotations

import base64
import json
import random
import statistics
import time
from contextlib import contextmanager

from pyspark.sql import functions as F

from pdfparse_spark.kernel.device import SimpleTextDevice
from pdfparse_spark.kernel.extract import extract_turn
from pdfparse_spark.kernel.html_extract import extract_html
from pdfparse_spark.kernel.interp import count_pdf_pages, process_pdf
from pdfparse_spark.kernel.pdfdocument import PDFDocument
from pdfparse_spark.kernel.pdfparser import PDFContentParser, PDFParser
from pdfparse_spark.kernel.pdftypes import stream_value
from pdfparse_spark.pipeline.extract import OUTPUT_SCHEMA, payload_key, salt_repartition
from pdfparse_spark.pipeline.extract import run_extraction
from pdfparse_spark.pipeline.resume import bucket_of, read_ledger, run_resumable
from pdfparse_spark.sources.io import load_transcripts

from harness import PARTITIONS, dir_bytes

SAMPLE = {"pdf": 120, "html": 60, "text": 200}  # turns sampled per content type
KERNEL_REPS = 3  # each sampled call is timed this often; the median counts
LADDER_REPS = 3  # each Spark ladder rung runs this often; the median counts
N_BUCKETS, BUCKETS_PER_WAVE = 8, 4  # run_resumable layout: 2 waves of 4 buckets


class Tracer:
    """In-memory spans; a span's parent is the innermost open span."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        rec = {"name": name, "run": self.run_id, "parent": self._open[-1] if self._open else None}
        self.spans.append(rec)
        self._open.append(idx)
        rec["start"] = time.perf_counter_ns()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter_ns()
            self._open.pop()

    def write(self, path: str) -> None:
        """One JSON line per span, with its self time: the span's duration
        minus the part of it its child spans cover."""
        child_ns = [0] * len(self.spans)
        for rec in self.spans:
            if rec["parent"] is not None:
                child_ns[rec["parent"]] += rec["end"] - rec["start"]
        with open(path, "w") as f:
            for i, rec in enumerate(self.spans):
                f.write(json.dumps(dict(rec, id=i, self_ns=rec["end"] - rec["start"] - child_ns[i])) + "\n")


def _span_s(rec: dict) -> float:
    return (rec["end"] - rec["start"]) / 1e9


def _time_ms(fn, *args) -> float:
    samples = []
    for _ in range(KERNEL_REPS):
        t0 = time.perf_counter_ns()
        fn(*args)
        samples.append((time.perf_counter_ns() - t0) / 1e6)
    return statistics.median(samples)


def _pct(values: list[float], q: float) -> float:
    if not values:
        return 0.0
    s = sorted(values)
    return s[min(len(s) - 1, int(q * len(s)))]


def _open_doc(data: bytes) -> PDFDocument:
    parser = PDFParser(data)
    doc = PDFDocument()
    parser.set_document(doc)
    doc.set_parser(parser)
    doc.initialize(b"")
    return doc


def _page_streams(data: bytes) -> list[list]:
    return [[stream_value(s) for s in page.contents] for page in _open_doc(data).get_pages()]


def _decode_all(data: bytes) -> int:
    return sum(len(s.get_data()) for streams in _page_streams(data) for s in streams)


def _parse_all(pages: list[list]) -> int:
    n = 0
    for streams in pages:
        for _ in PDFContentParser(streams).iter_objects():
            n += 1
    return n


class NoopDevice:
    """Device that drops every callback: process_pdf with it times the
    interpreter without the layout policy."""

    def _noop(self, *args, **kwargs) -> None:
        pass

    begin_page = end_page = begin_figure = end_figure = paint_path = _noop
    render_image = render_string = set_ctm = begin_tag = end_tag = do_tag = _noop


def _pdf_layer_row(tracer: Tracer, data: bytes) -> tuple:
    """(open ms, open+decode ms, decoded bytes, parse ms, objects,
    process_pdf no-op device ms, process_pdf SimpleTextDevice ms)."""
    with tracer.span("kernel.doc_open"):
        open_ms = _time_ms(count_pdf_pages, data)
    with tracer.span("kernel.stream_decode"):
        decode_ms = _time_ms(_decode_all, data)
    pages = _page_streams(data)
    n_bytes = sum(len(s.get_data()) for streams in pages for s in streams)
    with tracer.span("kernel.content_parse"):
        parse_ms = _time_ms(_parse_all, pages)  # streams already decoded
    with tracer.span("kernel.interpret"):
        noop_ms = _time_ms(lambda d: process_pdf(NoopDevice(), d), data)
    with tracer.span("kernel.device"):
        full_ms = _time_ms(lambda d: process_pdf(SimpleTextDevice(), d), data)
    return open_ms, decode_ms, n_bytes, parse_ms, _parse_all(pages), noop_ms, full_ms


def kernel_layers(tracer: Tracer, turns: dict[str, list[str]], not_ok: set[str], seed: int) -> dict:
    """Single-core timings over a fixed per-seed sample of the workload's
    turns of each content type (``turns`` maps content type to the turn
    texts).  Each distinct payload in the sample is timed once; means and
    percentiles are per sampled turn, so a payload that repeats weighs as
    often as it occurs.  PDFs in ``not_ok`` (golden parse_status other than
    "ok", such as an unsupported filter) are left out of the PDF layer
    rows; any other error in a layer call propagates."""
    rng = random.Random(seed)
    out: dict[str, float] = {}
    sample = {}
    total_ms = 0.0
    for ctype in ("pdf", "html", "text"):
        pool = turns.get(ctype, [])
        sample[ctype] = rng.sample(pool, min(SAMPLE[ctype], len(pool)))
        with tracer.span("kernel.extract_turn.%s" % ctype):
            memo = {t: _time_ms(extract_turn, t) for t in dict.fromkeys(sample[ctype])}
        ms = [memo[t] for t in sample[ctype]]
        out["kernel.turn_ms.%s.p50" % ctype] = _pct(ms, 0.5)
        out["kernel.turn_ms.%s.p99" % ctype] = _pct(ms, 0.99)
        if ms:
            total_ms += statistics.fmean(ms) * len(pool)
    out["kernel.core_ms_per_turn"] = total_ms / sum(len(v) for v in turns.values())

    keys = ("open", "decode", "bytes", "parse", "objects", "noop", "full")
    memo = {}
    with tracer.span("kernel.pdf_layers"):
        for text in dict.fromkeys(t for t in sample["pdf"] if t not in not_ok):
            memo[text] = _pdf_layer_row(tracer, base64.b64decode(text[len("pdfb64:"):]))
    rows = [memo[t] for t in sample["pdf"] if t in memo]
    mean = {k: statistics.fmean(r[i] for r in rows) if rows else 0.0 for i, k in enumerate(keys)}
    out["kernel.doc_open.ms_per_pdf"] = mean["open"]
    out["kernel.stream_decode.ms_per_pdf"] = mean["decode"] - mean["open"]
    out["kernel.stream_decode.bytes_per_pdf"] = mean["bytes"]
    out["kernel.content_parse.ms_per_pdf"] = mean["parse"]
    out["kernel.content_parse.objects_per_pdf"] = mean["objects"]
    out["kernel.interpret.ms_per_pdf"] = mean["noop"] - mean["decode"] - mean["parse"]
    out["kernel.device.ms_per_pdf"] = mean["full"] - mean["noop"]
    with tracer.span("kernel.html"):
        memo = {t: _time_ms(extract_html, t) for t in dict.fromkeys(sample["html"])}
    html_ms = [memo[t] for t in sample["html"]]
    out["kernel.html.ms_per_turn"] = statistics.fmean(html_ms) if html_ms else 0.0
    return out


def _no_kernel_body(batches):
    """mapInPandas body with the real body's column assembly (per-row span
    dicts included) but no kernel call: times the Arrow crossing alone."""
    import pandas as pd

    for pdf in batches:
        texts = pdf["text"].fillna("")
        yield pd.DataFrame(
            {
                "conv_id": pdf["conv_id"], "turn_idx": pdf["turn_idx"], "role": pdf["role"],
                "tool": pdf["tool"], "ts": pdf["ts"],
                "content_type": "text", "extracted_text": texts,
                "spans": [[{"page": 0, "start": 0, "end": len(t)}] for t in texts],
                "parse_status": "ok", "n_chars": texts.str.len(),
            }
        )


def _ladder_job(spark, rung: str, input_path: str) -> None:
    df = load_transcripts(spark, input_path)
    if rung == "scan":
        df.agg(F.sum(F.length("text"))).collect()
        return
    cols = ["conv_id", "turn_idx", "role", "tool", "ts", "text"]
    salted = salt_repartition(df.select(*cols), PARTITIONS)
    if rung == "shuffle":
        salted.count()
        return
    if rung == "crossing":
        out = salted.mapInPandas(_no_kernel_body, schema=OUTPUT_SCHEMA)
    else:
        out = run_extraction(df, num_partitions=PARTITIONS)
    out.write.format("noop").mode("overwrite").save()


RUNGS = ("scan", "shuffle", "crossing", "kernel")


def spark_ladder(spark, tracer: Tracer, input_path: str) -> dict[str, float]:
    """Median wall of each rung; each rung adds one layer to the previous:
    scan -> + salted shuffle -> + Arrow crossing (no kernel) -> + kernel.
    Each rung runs under its own job group for the event-log reduction."""
    sc = spark.sparkContext
    wall = {}
    for rung in RUNGS:
        sc.setJobGroup(rung, "perfbench ladder: %s" % rung)
        samples = []
        for _ in range(LADDER_REPS):
            with tracer.span("ladder.%s" % rung) as rec:
                _ladder_job(spark, rung, input_path)
            samples.append(_span_s(rec))
        wall[rung] = statistics.median(samples)
    return wall


def resume_layers(spark, tracer: Tracer, input_path: str, run_dir: str, n_turns: int):
    """run_resumable(dedup_payloads=True) into fresh dirs, then a no-op
    re-run.  Wave time is the ledger's wall_ms summed; the rest of the
    first run's wall is ledger commits and planning.  The kernel runs once
    per distinct payload within a wave, taken from the wave each bucket
    committed under in the ledger.  Returns (metrics, (out_dir,
    ledger_dir))."""
    out_dir, ledger_dir = run_dir + "/resume_out", run_dir + "/resume_ledger"
    df = load_transcripts(spark, input_path)

    def run():
        return run_resumable(
            spark, df, out_dir, ledger_dir, n_buckets=N_BUCKETS,
            buckets_per_wave=BUCKETS_PER_WAVE, num_partitions=PARTITIONS,
            dedup_payloads=True,
        )

    spark.sparkContext.setJobGroup("resume", "perfbench run_resumable")
    with tracer.span("pipeline.resume.run") as first:
        run()
    with tracer.span("pipeline.resume.rerun") as again:
        rerun = run()
    spark.sparkContext.setJobGroup("counts", "perfbench ledger and dedup counts")
    ledger = read_ledger(spark, ledger_dir)
    waves = ledger.select("wave", "wall_ms").distinct().collect()
    wave_s = sum(r["wall_ms"] for r in waves) / 1000
    keyed = df.withColumn("_key", payload_key())
    distinct = keyed.select("_key").distinct().count()
    per_wave = bucket_of(keyed, N_BUCKETS).join(ledger.select("bucket", "wave").distinct(), "bucket")
    metrics = {
        "pipeline.resume.wave_s": wave_s,
        "pipeline.resume.ledger_commit_s": _span_s(first) - wave_s,
        "pipeline.resume.output_mb": dir_bytes(out_dir) / 1e6,
        "pipeline.resume.rerun_s": _span_s(again),
        "pipeline.resume.rerun_turns": rerun["turns_processed"],
        "pipeline.dedup.distinct_payloads": distinct,
        "pipeline.dedup.distinct_ratio": distinct / n_turns,
        "pipeline.dedup.kernel_turns": per_wave.select("wave", "_key").distinct().count(),
    }
    return metrics, (out_dir, ledger_dir)
