"""HTML fixture corpus (FIXTURES.md §3).  The reference contains no HTML
code, so goldens are self-defined by our extractor (html_extract.py) and
frozen here; the invariant under test is determinism + policy conformance.
"""

from __future__ import annotations

import random

__all__ = ["HTML_FIXTURES", "HTMLFixture", "build_html_fixtures", "generate_pages"]


class HTMLFixture:
    __slots__ = ("name", "html", "golden_text")

    def __init__(self, name: str, html: str, golden_text: str):
        self.name = name
        self.html = html
        self.golden_text = golden_text


_ARTICLE_PARAS = [
    "Paragraph %d of the article body carries the actual long-form content "
    "that a reader came to this page for, sentence after sentence." % i
    for i in range(1, 13)
]

_ARTICLE = (
    "<!DOCTYPE html><html><head><title>t</title>"
    "<style>body{color:red}</style></head><body>"
    "<header><h1>Site Banner</h1><a href='/'>home</a></header>"
    "<nav><ul><li><a href='/a'>News</a></li><li><a href='/b'>Sports</a></li></ul></nav>"
    "<aside>Sidebar promo <a href='/buy'>buy now</a></aside>"
    "<article>"
    + "".join("<p>%s <b>bold</b> and <a href='/x'>a link</a>.</p>" % p for p in _ARTICLE_PARAS)
    + "</article>"
    "<footer>Copyright 2026 <a href='/legal'>legal</a></footer>"
    "</body></html>"
)

_NAV_HEAVY = (
    "<html><body>"
    "<div><a href='/1'>First link</a> <a href='/2'>Second link</a> "
    "<a href='/3'>Third link</a> <a href='/4'>Fourth link</a></div>"
    "<div><ul>"
    "<li><a href='/5'>short</a></li><li><a href='/6'>list</a></li>"
    "</ul></div>"
    "<div>This single long paragraph has no links at all and easily clears "
    "the minimum character threshold, so the extractor keeps it.</div>"
    "</body></html>"
)

_TABLES_CODE = (
    "<html><body><main>"
    "<p>Introduction paragraph explaining the code sample that follows below.</p>"
    "<pre>def f(x):\n    return x + 1  # exact\n</pre>"
    "<table><tr><td>cell one with enough characters to keep around</td>"
    "<td>x</td></tr></table>"
    "<p>Closing paragraph that wraps up the main content of this page.</p>"
    "</main></body></html>"
)

_COMMENTS_SCRIPTS = (
    "<html><body>"
    "<script>var x = 'not content';</script>"
    "<style>.c{display:none}</style>"
    "<!-- an html comment that must vanish entirely -->"
    "<noscript>enable javascript please</noscript>"
    "<p>Only this visible paragraph should survive the stripping pass.</p>"
    "</body></html>"
)

_ENTITIES = (
    "<html><body>"
    "<p>Fish &amp; chips &#x2014; costing &pound;9 &#189; &mdash; &quot;cheap&quot;&nbsp;indeed.</p>"
    "</body></html>"
)

_MALFORMED = (
    "<html><body>"
    "<div><p>Unclosed paragraph with plenty of characters to be kept by the policy"
    "<p>Second paragraph also unclosed and long enough to be kept as well"
    "</div></div></div>"
    "<p>Trailing content after stray closers survives too, quite happily."
    "</body>"
)


def build_html_fixtures() -> list[HTMLFixture]:
    from ..kernel.html_extract import extract_html

    fixtures = [
        ("html_article", _ARTICLE),
        ("html_nav_heavy", _NAV_HEAVY),
        ("html_tables_code", _TABLES_CODE),
        ("html_comments_scripts", _COMMENTS_SCRIPTS),
        ("html_entities", _ENTITIES),
        ("html_malformed", _MALFORMED),
    ]
    return [HTMLFixture(n, h, extract_html(h)) for n, h in fixtures]


_WORDS = (
    "data pipeline extraction spark arrow column partition shuffle golden "
    "turn parser density paragraph the of and to in a is that for with as"
).split()
_ENTITY = ["&amp;", "&lt;", "&gt;", "&quot;", "&#39;", "&#x2014;", "&nbsp;",
           "&pound;", "&copy", "&amp"]
_BLOCKS = ["p", "div", "li", "td", "h2", "blockquote", "pre", "dd", "section",
           "article", "span", "em", "b"]
_BOILER = ["nav", "header", "footer", "aside", "form"]


def _attrs(rng: random.Random) -> str:
    forms = [
        ' class="c%d"', " id='i%d'", " data-n=%d", " hidden", ' title = "t %d"',
        " href=/p/%d", ' style="color:red"', " tabindex=%d ",
    ]
    return "".join(
        (f % rng.randrange(100)) if "%d" in f else f
        for f in rng.sample(forms, rng.randrange(4))
    )


def _sentence(rng: random.Random) -> str:
    words = [rng.choice(_WORDS) for _ in range(rng.randrange(3, 18))]
    if rng.random() < 0.3:
        words.insert(rng.randrange(len(words)), rng.choice(_ENTITY))
    return " ".join(words)


def _element(rng: random.Random, depth: int) -> str:
    roll = rng.random()
    if depth > 3 or roll < 0.3:
        text = _sentence(rng)
        if rng.random() < 0.2:
            text += "<a%s>%s</a>" % (_attrs(rng), _sentence(rng))
        if rng.random() < 0.1:
            text += rng.choice(["<br>", "<br/>", "<BR />", "<img src=x.png>", "<hr/>"])
        return text
    if roll < 0.32:
        return rng.choice([
            "<!-- %s -->" % _sentence(rng),
            "<script%s>var s = '</p>' + %d;</script>" % (_attrs(rng), rng.randrange(9)),
            "<style>.x{margin:%dpx}</style>" % rng.randrange(9),
            "<noscript>%s</noscript>" % _sentence(rng),
        ])
    tag = rng.choice(_BOILER if roll < 0.38 else _BLOCKS)
    if rng.random() < 0.1:
        tag = tag.upper()
    body = " ".join(_element(rng, depth + 1) for _ in range(rng.randrange(1, 4)))
    close = "" if rng.random() < 0.08 else "</%s>" % tag  # unclosed, as in the wild
    return "<%s%s>%s%s" % (tag, _attrs(rng), body, close)


def generate_pages(n: int, seed: int = 0) -> list[str]:
    """``n`` distinct well-formed-ish pages of varied structure: nested
    blocks, boilerplate containers, links, every attribute value form,
    entities with and without ';', comments, scripts, styles, void and
    self-closing tags, uppercase names and unclosed elements.  Seed-stable;
    for timing and differential tests over distinct documents."""
    rng = random.Random(seed)
    pages = []
    for i in range(n):
        body = "\n".join(_element(rng, 0) for _ in range(rng.randrange(3, 10)))
        head = "<head><title>page %d</title><meta charset=utf-8></head>" % i
        doctype = "<!DOCTYPE html>" if rng.random() < 0.7 else ""
        pages.append("%s<html>%s<body>%s</body></html>" % (doctype, head, body))
    return pages


HTML_FIXTURES = None  # built lazily
