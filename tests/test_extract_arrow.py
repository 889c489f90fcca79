"""Parity of the mapInArrow extraction body with the kernel run on the driver.

Every output column of ``run_extraction`` (and ``run_extraction_dedup``)
must equal ``kernel.extract.extract_turn`` applied to the same text, and the
key columns must come back exactly as they went in.
"""

from __future__ import annotations

import base64
import datetime

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T


@pytest.fixture(scope="module")
def turns(spark):
    from pdfparse_spark.fixtures.html_gen import build_html_fixtures
    from pdfparse_spark.fixtures.pdf_gen import build_pdf_fixtures
    from pdfparse_spark.pipeline.transcripts import INPUT_SCHEMA

    pdfs = {fx.name: fx for fx in build_pdf_fixtures()}
    texts = [
        "pdfb64:" + base64.b64encode(pdfs[name].data).decode("ascii")
        for name in ("pdf_multipage", "pdf_multiline", "pdf_unsupported_filter")
    ] + [build_html_fixtures()[0].html, "a plain text turn", None]
    ts0 = datetime.datetime(2024, 5, 1, 12, 0, 0)
    rows = [
        (
            "conv%d" % (i % 2),
            i,
            "user" if i % 3 else None,
            text,
            None if i % 2 else "browser",
            ts0 + datetime.timedelta(seconds=i),
        )
        for i, text in enumerate(texts)
    ]
    # role is non-nullable in INPUT_SCHEMA; relax it so NULL roles pass through
    schema = T.StructType([T.StructField(f.name, f.dataType) for f in INPUT_SCHEMA])
    return spark.createDataFrame(rows, schema), rows


@pytest.fixture(scope="module")
def repeat_turns(spark):
    """One frame whose payloads repeat: the same PDF three times, the same
    HTML twice, NULL twice, ``""`` next to NULL and one text turn.  Run
    with ``num_partitions=1`` every row shares one Arrow batch."""
    from pdfparse_spark.fixtures.html_gen import build_html_fixtures
    from pdfparse_spark.fixtures.pdf_gen import build_pdf_fixtures
    from pdfparse_spark.pipeline.transcripts import INPUT_SCHEMA

    pdf = "pdfb64:" + base64.b64encode(build_pdf_fixtures()[0].data).decode("ascii")
    html = build_html_fixtures()[0].html
    texts = [pdf, None, html, pdf, "", None, "a plain text turn", html, pdf]
    ts0 = datetime.datetime(2024, 5, 1, 12, 0, 0)
    rows = [
        ("rep%d" % (i % 3), i, "tool" if i % 2 else None, text, "t%d" % i, ts0)
        for i, text in enumerate(texts)
    ]
    schema = T.StructType([T.StructField(f.name, f.dataType) for f in INPUT_SCHEMA])
    return spark.createDataFrame(rows, schema), rows


def _expected(rows):
    from pdfparse_spark.kernel.extract import extract_turn

    out = {}
    for conv_id, turn_idx, role, text, tool, ts in rows:
        ctype, extracted, spans, status = extract_turn(text)
        out[(conv_id, turn_idx)] = {
            "role": role,
            "tool": tool,
            "ts": ts,
            "content_type": ctype,
            "extracted_text": extracted,
            "spans": [tuple(s) for s in spans],
            "parse_status": status,
            "n_chars": len(extracted),
        }
    return out


def _actual(df):
    out = {}
    for r in df.collect():
        d = r.asDict()
        key = (d.pop("conv_id"), d.pop("turn_idx"))
        d["spans"] = [(s["page"], s["start"], s["end"]) for s in d["spans"]]
        out[key] = d
    return out


def test_arrow_body_matches_driver_kernel(spark, turns):
    from pdfparse_spark.pipeline.extract import OUTPUT_SCHEMA, run_extraction

    df, rows = turns
    expected = _expected(rows)
    assert {e["content_type"] for e in expected.values()} == {"pdf", "html", "text"}
    assert any(len(e["spans"]) > 1 for e in expected.values())  # multi-page
    assert "unsupported_filter" in {e["parse_status"] for e in expected.values()}

    out = run_extraction(df, num_partitions=3)
    assert out.schema == OUTPUT_SCHEMA
    assert _actual(out) == expected


def test_arrow_body_telemetry_adds_only_kernel_us(spark, turns):
    from pdfparse_spark.pipeline.extract import TELEMETRY_SCHEMA, run_extraction

    df, rows = turns
    out = run_extraction(df, num_partitions=3, telemetry=True)
    assert out.schema[: len(TELEMETRY_SCHEMA)] == TELEMETRY_SCHEMA
    assert dict(out.dtypes)["kernel_us"] == "bigint"
    assert out.filter(F.col("kernel_us") < 0).count() == 0
    actual = _actual(out.drop("kernel_us", "part_id"))
    assert actual == _expected(rows)


def test_arrow_dedup_body_matches_plain_path(spark, turns):
    from pdfparse_spark.pipeline.extract import run_extraction_dedup

    df, rows = turns
    dup = df.unionByName(df.withColumn("conv_id", F.concat(F.col("conv_id"), F.lit("b"))))
    expected = _expected(rows)
    expected.update({(c + "b", i): v for (c, i), v in list(expected.items())})
    assert _actual(run_extraction_dedup(dup, num_partitions=2)) == expected


def test_arrow_split_path_matches_driver_kernel(spark, turns):
    """Every probed PDF is heavy at threshold 1, so multi-page fixtures go
    through the segment and merge bodies; NULL keys and error statuses
    must come back as the driver-side kernel gives them."""
    from pdfparse_spark.pipeline.extract import OUTPUT_SCHEMA
    from pdfparse_spark.pipeline.split_extract import run_extraction_split

    df, rows = turns
    out = run_extraction_split(
        df, num_partitions=3, page_threshold=1, pages_per_seg=1, probe_min_bytes=0
    )
    assert out.schema == OUTPUT_SCHEMA
    assert _actual(out) == _expected(rows)


def test_split_query_leaves_no_persisted_rdd(spark, turns):
    from pdfparse_spark.pipeline.split_extract import run_extraction_split

    sc = spark.sparkContext
    df, _ = turns
    # a plan no earlier query ran: a cached twin would hide a new persist
    df = df.withColumn("conv_id", F.concat(F.col("conv_id"), F.lit("#rdd")))
    # RDD ids only grow, so whatever the query persists lands past this
    # mark.  Entries of earlier tests are left out: the context holds them
    # weakly and lists them unstably (an id can drop out and come back).
    mark = sc.emptyRDD().id()
    out = run_extraction_split(df, page_threshold=1, pages_per_seg=1, probe_min_bytes=0)
    assert out.count() == df.count()
    assert {k for k in sc._jsc.getPersistentRDDs().keys() if k > mark} == set()


def test_arrow_body_repeats_in_one_batch_match_driver_kernel(spark, repeat_turns):
    from pdfparse_spark.pipeline.extract import run_extraction

    df, rows = repeat_turns
    expected = _expected(rows)
    assert _actual(run_extraction(df, num_partitions=1)) == expected
    by_text = {text: expected[(c, i)] for c, i, _, text, _, _ in rows}
    assert by_text[None]["spans"] == []
    assert by_text[""]["spans"] == [(0, 0, 0)]
    assert {by_text[t]["content_type"] for t in by_text} == {"pdf", "html", "text"}


def test_arrow_body_telemetry_times_each_payload_once(spark, repeat_turns):
    """Only the row where a payload first appears in its batch carries its
    kernel time; repeats carry 0 and the kernel columns are unchanged."""
    from pdfparse_spark.pipeline.extract import run_extraction

    df, rows = repeat_turns
    out = run_extraction(df, num_partitions=1, telemetry=True)
    got = {(r["conv_id"], r["turn_idx"]): r["kernel_us"] for r in out.collect()}
    assert _actual(out.drop("kernel_us", "part_id")) == _expected(rows)
    timed = {}
    for c, i, _, text, _, _ in rows:
        timed.setdefault(text, []).append(got[(c, i)])
    for text, micros in timed.items():
        assert micros.count(0) >= len(micros) - 1, (text, micros)
    pdf, html = rows[0][3], rows[2][3]
    assert sum(1 for us in timed[pdf] if us > 0) == 1  # PDF kernel time is never 0 µs
    assert sum(1 for us in timed[html] if us > 0) == 1
