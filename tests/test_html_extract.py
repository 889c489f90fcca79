"""HTML extractor: the block rules pinned at element close, bounded cost on
adversarial tag sequences and deep nests, and an honest parse status on
documents html.parser rejects."""

from __future__ import annotations

import time

import pytest

from pdfparse_spark.kernel.extract import extract_turn
from pdfparse_spark.kernel.html_extract import (
    _BlockPicker,
    extract_html,
    extract_html_status,
)


def _fallback(html: str) -> str:
    """The picker driven by html.parser alone, whatever the fast path
    would accept."""
    picker = _BlockPicker()
    picker.feed(html)
    picker.close()
    return picker.text()


SOURCES = pytest.mark.parametrize("build", [extract_html, _fallback], ids=["fast", "fallback"])

A, B, C, D = "a" * 30, "b" * 30, "c" * 30, "d" * 30


@SOURCES
@pytest.mark.parametrize(
    "html, text",
    [
        # </div> closes the open <span> and <p> on its way: the <p> is
        # decided with its text so far, and the "c"s land outside it
        ("<div><p>%s<span>bbbbb</div>%s<p>%s</p>" % (A, C, D), A + "bbbbb\n" + D),
        # elements still open at the end are closed then, innermost first
        ("<div><p>%s<li>%s" % (A, B), A + " " + B),
        # a <nav> inside a passing <p> takes its chars out of the count ...
        ("<p>%s<nav>%s</nav>bbbbb</p>" % (A, "n" * 30), A + "bbbbb"),
        # ... so they cannot lift a short <p> over the length bound
        ("<p>%s<nav>%s</nav></p>" % ("a" * 20, "n" * 30), ""),
        # the outer candidate replaces the inner one, pass or fail
        ("<li>%s<p>%s</p></li>" % ("a" * 10, B), "a" * 10 + " " + B),
        ("<li><a href=x>%s</a><p>%s</p></li>" % ("l" * 40, B), ""),
        # a <div> with a direct block child is no candidate; one whose block
        # is a grandchild is
        ("<div>%s<p>%s</p></div>" % (A, B), B),
        ("<div>%s<span><p>%s</p></span></div>" % (A, B), A + " " + B),
        # <pre> keeps its text verbatim, newlines at both ends stripped
        ("<pre>\n\n  x = 1\n    y = 2\n\n</pre>", "  x = 1\n    y = 2"),
        # a <br> inside <a> is a newline chunk with no chars
        ("<p><a href=x>%s<br>%s</a>%s</p>" % ("l" * 20, "m" * 20, "t" * 50),
         "l" * 20 + " " + "m" * 20 + "t" * 50),
        ("<pre><a href=x>a<br>b</a></pre>", "a\nb"),
    ],
)
def test_blocks_are_decided_at_close(build, html, text):
    assert build(html) == text


def test_rejected_html_on_the_fallback_keeps_the_open_elements():
    # html.parser raises at "<![ x" with a <div>, a <p> and an <li> open;
    # they are closed as at the end of a document
    page = "<div><p>%s<li>%s<![ x <p>%s</p>" % (A, B, C)
    picker = _BlockPicker()
    with pytest.raises(AssertionError):
        picker.feed(page)
    assert picker.text() == A + " " + B
    assert extract_html_status(page) == (A + " " + B, "error:AssertionError")


@SOURCES
@pytest.mark.parametrize(
    "html, text",
    [
        ("<li>" * 100_000 + "x" * 40, "x" * 40),
        (("<div><p>" + "z" * 30) * 50_000, " ".join(["z" * 30] * 50_000)),
    ],
    ids=["li", "div-p"],
)
def test_deep_nests_return_in_bounded_time(build, html, text):
    # every element stays open to the end; no close may recurse or rejoin
    # its descendants' text, or this is a RecursionError or quadratic
    t0 = time.perf_counter()
    assert build(html) == text
    assert time.perf_counter() - t0 < 3.0


@SOURCES
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
