"""HTML main-content extraction via DOM text-density heuristics.

Not present in the reference (SURVEY.md §2 P9); technique follows the
published text-density / link-density family (Kohlschütter et al., WSDM'10;
Sun et al., SIGIR'11), stdlib only (no lxml dependency).  Goldens are
self-defined by this extractor and frozen in the fixture corpus
(FIXTURES.md §3).

Tree building has two token sources and one set of tree rules.  The fast
path is one fused regex scanner (``_SCAN``) over text runs, start and end
tags, comments, the doctype and script/style raw text; it calls the
``_TreeBuilder`` handlers exactly as html.parser would.  A document with any
construct outside that grammar goes WHOLE to the stdlib ``html.parser``
loop driving the same handlers — the semantic authority, as
``psparse._nexttoken_slow`` is for the PDF tokenizer.
tests/test_html_differential.py pins tree equality between the two.

Policy (deterministic):
1. drop <script>/<style>/<noscript>/<template>/<head>/comments entirely;
2. drop boilerplate containers: <nav>, <header>, <footer>, <aside>, <form>;
3. candidate blocks = <p>, <h1>-<h6>, <li>, <pre>, <blockquote>, <td>, <th>,
   <figcaption>, <dt>, <dd>, and <div>s with no block children;
4. keep a block iff len(text) >= 25 and link_density <= 0.5, where
   link_density = chars inside <a> / total chars; <pre> blocks are always
   kept when non-empty (code preservation);
5. entities are decoded; whitespace inside a block is collapsed to single
   spaces (except <pre>, kept verbatim); blocks join with '\n'.
"""

from __future__ import annotations

import re
from collections import defaultdict
from html import unescape
from html.parser import HTMLParser

__all__ = ["extract_html", "extract_html_status", "html_signals"]

_DROP_TAGS = frozenset(
    ["script", "style", "noscript", "template", "head", "svg", "iframe"]
)
_BOILERPLATE_TAGS = frozenset(["nav", "header", "footer", "aside", "form"])
_BLOCK_TAGS = frozenset(
    [
        "p", "h1", "h2", "h3", "h4", "h5", "h6", "li", "pre", "blockquote",
        "td", "th", "figcaption", "dt", "dd", "div", "article", "section",
        "main", "body", "ul", "ol", "table", "tr",
    ]
)
_CANDIDATE_TAGS = frozenset(
    [
        "p", "h1", "h2", "h3", "h4", "h5", "h6", "li", "pre", "blockquote",
        "td", "th", "figcaption", "dt", "dd", "div",
    ]
)
_CDATA_TAGS = frozenset(HTMLParser.CDATA_CONTENT_ELEMENTS)  # script, style
_VOID_TAGS = frozenset(
    ["br", "hr", "img", "input", "meta", "link", "area", "base", "col",
     "embed", "source", "track", "wbr"]
)

MIN_BLOCK_CHARS = 25
MAX_LINK_DENSITY = 0.5


class _Node:
    __slots__ = ("tag", "children", "parent")

    def __init__(self, tag: str, parent=None):
        self.tag = tag
        self.children: list = []  # _Node or (text, in_link) tuples
        self.parent = parent


class _TreeBuilder(HTMLParser):
    """Best-effort DOM builder.  Its three handlers hold every tree rule
    (drop, void, link, implicit close); both token sources call them: the
    fused scanner (``_scan_into``) and, for documents outside its grammar,
    the stdlib ``HTMLParser`` loop this class inherits."""

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.root = _Node("#root")
        self.cur = self.root
        self._drop_depth = 0
        # open nodes per tag on the chain root..cur; "a" is the link depth
        self._open = defaultdict(int)

    def handle_starttag(self, tag, attrs):
        if tag in _VOID_TAGS:
            if tag == "br" and not self._drop_depth:
                self.cur.children.append(("\n", self._open["a"] > 0))
            return
        if tag in _DROP_TAGS:
            self._drop_depth += 1
            return
        if self._drop_depth:
            return
        node = _Node(tag, self.cur)
        self.cur.children.append(node)
        self.cur = node
        self._open[tag] += 1

    def handle_endtag(self, tag):
        if tag in _DROP_TAGS:
            if self._drop_depth:
                self._drop_depth -= 1
            return
        if self._drop_depth:
            return
        open_ = self._open
        if not open_[tag]:
            # stray end tag: nothing open to close.  Answered from the
            # count without walking the chain, so n stray end tags under n
            # open elements cost O(n), not O(n²).
            return
        # close everything from cur up to AND including the nearest open
        # ``tag``; every <a> closed on the way leaves the link depth, so an
        # unclosed <a> cannot leak link-ness over the rest of the document
        node = self.cur
        while True:
            open_[node.tag] -= 1
            if node.tag == tag:
                break
            node = node.parent
        self.cur = node.parent

    def handle_data(self, data):
        if self._drop_depth or not data:
            return
        self.cur.children.append((data, self._open["a"] > 0))


# --- fast path: one fused scanner over the markup stdlib parses the same way -
#
# Every alternative accepts only input on which html.parser makes exactly the
# same handler calls: one handle_data(unescape(run)) per text run between
# markup, the same lowered tag names, the same tag ends.  All quantifiers are
# possessive, so a match is the one greedy parse html.parser's own regexes
# take.  Attributes are never parsed (the builder ignores them); the scanner
# only has to end each tag where check_for_whole_start_tag does — a bare
# value swallows a trailing "/", so <div a=b/> is a start tag, not <div/>.
# Anything else — "<![", "<?", other "<!" forms, a stray "<", "</>", an
# unterminated tag, comment or raw-text element, "/" between attributes, an
# attribute name starting with a quote or "=" — matches the catch-all and
# sends the whole document to html.parser.  Written against CPython 3.11's
# html.parser; tests/test_html_differential.py fails if the stdlib moves.

_NAME_END = r"\t\n\r\f />\x00"  # tagfind_tolerant's tag-name terminators
_ATTRS = (  # whitespace-separated attributes, any value form
    r"""(?:\s++[^\s/>"'=][^\s/=>]*+"""
    r"""(?:\s*+=\s*+(?:"[^"]*+"|'[^']*+'|(?!["'])[^>\s]*+))?+)*+"""
)


def _rawtext(name: str) -> str:
    """A whole script/style element: its body runs to the first end tag of
    the same name in any ASCII case, as in set_cdata_mode."""
    ci = "".join("[%s%s]" % (c, c.upper()) for c in name)
    return r"<%s(?![^%s])%s\s*+>(.*?)</\s*+%s\s*+>" % (ci, _NAME_END, _ATTRS, ci)


_SCAN = re.compile(
    "|".join(
        [
            r"([^<]++)",  # 1: text run
            _rawtext("script"),  # 2: script body
            _rawtext("style"),  # 3: style body
            r"<([a-zA-Z][^%s]*+)%s\s*+(/?)>" % (_NAME_END, _ATTRS),  # 4: name, 5: "/"
            r"</\s*+([a-zA-Z][-.a-zA-Z0-9:_]*+)\s*+>",  # 6: end tag name
            r"<!--.*?--\s*>",  # comment
            r"<![dD][oO][cC][tT][yY][pP][eE][^>]*+>",  # doctype
            r"(<)",  # 7: anything else — outside the covered grammar
        ]
    ),
    re.DOTALL,
)
_RAWTEXT = {2: "script", 3: "style"}


def _scan_into(builder: _TreeBuilder, html: str) -> bool:
    """Feed ``builder`` the handler calls html.parser would make for
    ``html``; False (builder state then undefined) when the document leaves
    the covered grammar."""
    starttag = builder.handle_starttag
    endtag = builder.handle_endtag
    data = builder.handle_data
    for m in _SCAN.finditer(html):
        kind = m.lastindex
        if kind == 1:
            text = m[1]
            data(unescape(text) if "&" in text else text)
        elif kind == 5:
            tag = m[4].lower()
            starttag(tag, None)
            if m[5]:
                endtag(tag)
            elif tag in _CDATA_TAGS:
                return False  # raw-text element without its end tag
        elif kind == 6:
            endtag(m[6].lower())
        elif kind is None:
            continue  # comment or doctype: no handler call
        elif kind in _RAWTEXT:
            tag = _RAWTEXT[kind]
            starttag(tag, None)
            data(m[kind])
            endtag(tag)
        else:
            return False
    return True


def _scan_tree(html: str) -> _Node | None:
    """The fast path's tree, or None when ``html`` needs the fallback."""
    builder = _TreeBuilder()
    return builder.root if _scan_into(builder, html) else None


def _parse_tree(html: str) -> _Node:
    """The fallback authority: the same builder driven by html.parser."""
    builder = _TreeBuilder()
    builder.feed(html)
    builder.close()
    return builder.root


def _node_text(node: _Node) -> tuple[str, int, int]:
    """(text, total_chars, link_chars) of a subtree (raw, uncollapsed).

    Iterative (explicit stack): recursion here bounded extraction depth by
    the interpreter limit, so a ~2000-deep nest of tags raised
    RecursionError THROUGH extract_turn and killed the whole Spark task —
    the one failure mode the lenient kernel may never have.  The " "
    markers pushed around block-tag subtrees reproduce the recursive
    version's spacing exactly."""
    parts: list[str] = []
    total = 0
    link = 0
    stack = list(reversed(node.children))
    while stack:
        child = stack.pop()
        if isinstance(child, str):  # post-subtree spacing marker
            parts.append(child)
            continue
        if isinstance(child, _Node):
            if child.tag in _BOILERPLATE_TAGS:
                continue
            if child.tag in _BLOCK_TAGS:
                parts.append(" ")
                stack.append(" ")
            stack.extend(reversed(child.children))
        else:
            text, in_link = child
            parts.append(text)
            n = len(text.strip())
            total += n
            if in_link:
                link += n
    return "".join(parts), total, link


def _has_block_child(node: _Node) -> bool:
    return any(
        isinstance(c, _Node) and c.tag in _BLOCK_TAGS for c in node.children
    )


def _collapse(text: str) -> str:
    return " ".join(text.split())


def _walk(node: _Node, out: list[str]) -> None:
    """Candidate-block selection in document order — iterative for the
    same unbounded-depth reason as _node_text."""
    stack = list(reversed(node.children))
    while stack:
        child = stack.pop()
        if not isinstance(child, _Node):
            continue
        tag = child.tag
        if tag in _BOILERPLATE_TAGS:
            continue
        if tag == "pre":
            raw, total, _ = _node_text(child)
            raw = raw.strip("\n")
            if total:
                out.append(raw)
            continue
        if tag in _CANDIDATE_TAGS and not (tag == "div" and _has_block_child(child)):
            raw, total, link = _node_text(child)
            if total and (
                total >= MIN_BLOCK_CHARS
                and (link / total) <= MAX_LINK_DENSITY
            ):
                out.append(_collapse(raw))
            continue
        stack.extend(reversed(child.children))


def extract_html_status(html: str) -> tuple[str, str]:
    """(main-content text, parse status).  Never raises: when html.parser
    itself rejects the document (it raises AssertionError on "<![ x"), the
    text comes from the tree built up to the failing construct and the
    status is "error:<class name>" — a failed PDF turn likewise keeps the
    text of the pages before the failure."""
    builder = _TreeBuilder()
    status = "ok"
    try:
        if not _scan_into(builder, html):
            builder = _TreeBuilder()
            builder.feed(html)
            builder.close()
    except Exception as exc:
        status = "error:%s" % type(exc).__name__
    out: list[str] = []
    _walk(builder.root, out)
    return "\n".join(out), status


def extract_html(html: str) -> str:
    """Main-content text, blocks joined by newlines.  Never raises."""
    return extract_html_status(html)[0]


_HTML_MARKERS = (
    "<!doctype html", "<html", "<head", "<body", "<div", "<p>", "<p ",
    "<article", "<section", "<table", "<span", "<h1", "<ul", "<nav",
)


def html_signals(text: str) -> bool:
    """Cheap classification signal used by the router (P8)."""
    head = text[:4096].lstrip().lower()
    return head.startswith("<") and any(m in head for m in _HTML_MARKERS)
