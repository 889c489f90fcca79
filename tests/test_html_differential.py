"""Differential fuzz: the fused HTML scanner must build EXACTLY the tree that
html.parser builds through the same handlers — the stdlib parser is the
authority (html_extract module docstring).  Trees are compared node by node:
tag, child count, every text chunk and its in_link flag."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pdfparse_spark.fixtures.html_gen import build_html_fixtures, generate_pages
from pdfparse_spark.kernel.html_extract import (
    _Node,
    _node_text,
    _parse_tree,
    _scan_tree,
)


def _shape(root: _Node) -> list:
    """Pre-order listing of a tree: ("<", tag, n_children) per node and
    (text, in_link) per text chunk.  Iterative: soup can nest deeply."""
    out = []
    stack = [root]
    while stack:
        item = stack.pop()
        if isinstance(item, _Node):
            out.append(("<", item.tag, len(item.children)))
            stack.extend(reversed(item.children))
        else:
            out.append(item)
    return out


def _assert_same(html: str) -> bool:
    """Fast tree == fallback tree whenever the fast path accepts ``html``;
    True iff it did."""
    fast = _scan_tree(html)
    try:
        slow = _parse_tree(html)
    except AssertionError:  # html.parser rejects some "<![" forms
        assert fast is None, html
        return False
    if fast is not None:
        assert _shape(fast) == _shape(slow), html
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
def test_fast_tree_matches_fallback_on_tag_soup(html):
    _assert_same(html)


@given(st.text(alphabet="<>/=\"' \t\n\x0b\x00\x1c\xa0\u2003abpsBPS!-&;#x", max_size=120))
@settings(max_examples=300, **_SETTINGS)
def test_fast_tree_matches_fallback_on_char_soup(html):
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
    root = _scan_tree("<p>abc <!-- --> def</p>")
    p = root.children[0]
    assert p.children == [("abc ", False), (" def", False)]
    # each chunk is stripped before it is counted: 3 + 3, not 8
    assert _node_text(p)[1:] == (6, 0)


def test_open_link_marks_later_text():
    root = _scan_tree("<a href=x/>inside")
    assert _shape(root) == [("<", "#root", 1), ("<", "a", 1), ("inside", True)]
