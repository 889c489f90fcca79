"""HTML extractor robustness: bounded cost on adversarial tag sequences and
an honest parse status on documents html.parser rejects."""

from __future__ import annotations

import time

import pytest

from pdfparse_spark.kernel.extract import extract_turn
from pdfparse_spark.kernel.html_extract import (
    _parse_tree,
    extract_html,
    extract_html_status,
)


@pytest.mark.parametrize("build", [extract_html, _parse_tree], ids=["fast", "fallback"])
def test_stray_end_tags_cost_linear_time(build):
    # every </span> is stray under 16,000 open <div>s; walking the open
    # chain for each one made this 192 KB turn take ~9 s
    n = 16_000
    html = "<div>" * n + "</span>" * n
    t0 = time.perf_counter()
    build(html)
    assert time.perf_counter() - t0 < 2.0


def test_rejected_html_reports_an_error_status():
    page = "<html><body><p>%s</p><![ x" % ("c" * 40)
    ctype, text, spans, status = extract_turn(page)
    assert (ctype, spans) == ("html", [(0, 0, len(text))])
    assert status == "error:AssertionError"
    assert extract_html(page) == text  # the never-raises contract holds


def test_rejected_html_keeps_the_text_before_the_failure():
    # html.parser raises on "<![ x" after the <p> is built; the partial
    # tree still holds the paragraph
    page = "<html><body><p>%s</p><![ x" % ("c" * 40)
    assert extract_html_status(page) == ("c" * 40, "error:AssertionError")
    page = "<div><p>%s</p><p>%s</p></div><![ x <p>never reached</p>" % ("a" * 30, "b" * 30)
    assert extract_html_status(page) == ("a" * 30 + "\n" + "b" * 30, "error:AssertionError")


def test_accepted_html_reports_ok():
    page = "<html><body><p>%s</p></body></html>" % ("long enough paragraph " * 3)
    text, status = extract_html_status(page)
    assert status == "ok" and text.startswith("long enough paragraph")
    assert extract_turn(page) == ("html", text, [(0, 0, len(text))], "ok")
