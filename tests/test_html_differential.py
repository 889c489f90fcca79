"""Differential fuzz: the fused HTML scanner must give the block picker
EXACTLY the events html.parser gives it through the same handlers — the
stdlib parser is the authority (html_extract module docstring).  The events
are what the picker acts on: an element opened, an element closed (implicit
closes and the end-of-document unwind included), and a text chunk kept with
its in-link flag; the final ``extract_html_status`` must match too.

Raw handler calls are not compared: they differ where the picker ignores the
difference (html.parser splits a script body at "</scrıpt>", and sends no
data call for "<script></script>" where the scanner sends an empty one)."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pdfparse_spark.fixtures.html_gen import build_html_fixtures, generate_pages
from pdfparse_spark.kernel.html_extract import (
    _BlockPicker,
    _scan_into,
    extract_html_status,
)


class _Recorder(_BlockPicker):
    """The picker, logging the events it acts on."""

    def __init__(self):
        super().__init__()
        self.events: list[tuple] = []

    def handle_starttag(self, tag, attrs):
        depth, chunks = len(self._stack), len(self._chunks)
        super().handle_starttag(tag, attrs)
        if len(self._stack) > depth:
            self.events.append(("open", tag))
        elif len(self._chunks) > chunks:  # <br>
            self.events.append(("text", self._chunks[-1], self._open["a"] > 0))

    def handle_data(self, data):
        chunks = len(self._chunks)
        super().handle_data(data)
        if len(self._chunks) > chunks:
            self.events.append(("text", data, self._open["a"] > 0))

    def _close(self, frame):
        self.events.append(("close", frame[0]))
        super()._close(frame)


def _events(html: str, fast: bool) -> tuple[list, str] | None:
    """(events, text) from one token source, the unwind included; None when
    ``fast`` and ``html`` needs the fallback."""
    rec = _Recorder()
    if not fast:  # the fallback authority: html.parser
        rec.feed(html)
        rec.close()
    elif not _scan_into(rec, html):
        return None
    text = rec.text()
    return rec.events, text


def _assert_same(html: str) -> bool:
    """Fast events and text == fallback events and text whenever the fast
    path accepts ``html``, and ``extract_html_status`` agrees; True iff the
    fast path accepted."""
    fast = _events(html, True)
    try:
        slow = _events(html, False)
    except AssertionError:  # html.parser rejects some "<![" forms
        assert fast is None, html
        return False
    if fast is not None:
        assert fast == slow, html
    assert extract_html_status(html) == (slow[1], "ok"), html
    return fast is not None


_FRAGMENTS = [
    "<p>", "</p>", "<div>", "</div>", "<DIV class='a b'>", "<Div>", "<a href=x>",
    "<a href=x/>", "</a>", "<br/>", "<br>", "<BR />", "<p/>", "</ p>", "</P >",
    '<span id="q" hidden>', "</span>", "<li>", "<td>", "<pre>", "</pre>",
    "<nav>", "</nav>", "<noscript>", "</noscript>", "<img src=a.png />",
    "<div a=b/>", "<div a = 'x' b>", "<div a==b>", "<div a='x'b='y'>",
    "<div/a>", '<x y="a>b">', "<div\x0bx>", "<div\xa0x>", "<div\x00>",
    "<b", ">", "<", "</", "</>", "</3>", "/", "=", "'", '"', " ", "\n", "\t",
    "&amp;", "&amp", "&#39;", "&#x41", "&nbsp", "&", ";", "text", "Word",
    "<script>", "</script>", "</SCRIPT >", "</script x>", "<script/>",
    "<script a=b/>", "<style type=text/css>", "</style>", "<STYLE>",
    "<!--", "-->", "--!>", "<!-- c -->", "<!---->", "<!DOCTYPE html>",
    "<!doctype", "<![CDATA[x]]>", "<![ x", "<?php ?>", "<!x>",
    "<ſcript>", "</ſcript>", "</scrıpt>", "\xa0", "<p\u2003a=b>",
]

_SOUP = st.lists(
    st.one_of(
        st.sampled_from(_FRAGMENTS),
        st.text(alphabet="<>/=\"' ab&;#!-\n", max_size=6),
    ),
    max_size=60,
).map("".join)

_SETTINGS = dict(deadline=2000, suppress_health_check=[HealthCheck.too_slow])


@given(_SOUP)
@settings(max_examples=500, **_SETTINGS)
def test_fast_events_match_fallback_on_tag_soup(html):
    _assert_same(html)


@given(st.text(alphabet="<>/=\"' \t\n\x0b\x00\x1c\xa0\u2003abpsBPS!-&;#x", max_size=120))
@settings(max_examples=300, **_SETTINGS)
def test_fast_events_match_fallback_on_char_soup(html):
    _assert_same(html)


def test_generated_pages_take_the_fast_path():
    pages = generate_pages(200, seed=3)
    fast = sum(_assert_same(p) for p in pages)
    # without this bound the test would pass with only the fallback running
    assert fast >= 0.9 * len(pages), fast


@pytest.mark.parametrize("fx", build_html_fixtures(), ids=lambda f: f.name)
def test_fixtures_take_the_fast_path(fx):
    assert _assert_same(fx.html)


@pytest.mark.parametrize(
    "html, fast",
    [
        ("<br/>x", True),
        ("<p/>y", True),  # "/>" means start + end, void or not
        ("<a href=x/>z", True),  # the bare value swallows the "/"
        ("<div a=b />z", True),
        ("<script>if (a) { x = '</p>' }</script>t", True),
        ("<script>x</SCRIPT >t", True),
        ("<style>p{}</style  >t", True),
        ("<script></script>t", True),  # html.parser sends no data call here
        ("<script>a</scrıpt>b</script>t", True),  # html.parser splits the body
        ("<script>never closed", False),
        ("<script>x</ſcript>", False),
        ("a < b", False),
        ("x</>y", False),
        ("<p>x<?php y ?>", False),
        ("<p>x<![CDATA[y]]>", False),
        ("<p class='unterminated>x", False),
        ("<!-- never closed", False),
    ],
)
def test_pinned_cases(html, fast):
    assert _assert_same(html) is fast


def test_comment_splits_a_text_run():
    rec = _Recorder()
    assert _scan_into(rec, "<p>abc <!-- --> def</p>")
    assert rec.events == [
        ("open", "p"), ("text", "abc ", False), ("text", " def", False), ("close", "p"),
    ]
    # each chunk is stripped before it is counted: 3 + 3, not 8
    assert rec._chars == 6


def test_open_link_marks_later_text():
    assert _events("<a href=x/>inside", True)[0] == [
        ("open", "a"), ("text", "inside", True), ("close", "a"),
    ]
