"""HTML main-content extraction via text-density heuristics.

Not present in the reference (SURVEY.md §2 P9); technique follows the
published text-density / link-density family (Kohlschütter et al., WSDM'10;
Sun et al., SIGIR'11), stdlib only (no lxml dependency).  Goldens are
self-defined by this extractor and frozen in the fixture corpus
(FIXTURES.md §3).

One block picker (``_BlockPicker``) holds every rule and makes each block
decision when its element closes, from running char and link-char counts;
no tree is built.  It has two token sources.  The fast path is one fused
regex scanner (``_SCAN``) over text runs, start and end tags, comments, the
doctype and script/style raw text; it calls the picker's handlers exactly as
html.parser would.  A document with any construct outside that grammar goes
WHOLE to the stdlib ``html.parser`` loop driving the same handlers — the
semantic authority, as ``psparse._nexttoken_slow`` is for the PDF
tokenizer.  tests/test_html_differential.py pins that both sources give the
picker the same opens, closes and kept text chunks.

Policy (deterministic):
1. drop <script>/<style>/<noscript>/<template>/<head>/comments entirely;
2. drop boilerplate containers: <nav>, <header>, <footer>, <aside>, <form>;
3. candidate blocks = <p>, <h1>-<h6>, <li>, <pre>, <blockquote>, <td>, <th>,
   <figcaption>, <dt>, <dd>, and <div>s with no block children; a candidate's
   text holds its descendants', and it replaces whatever they picked;
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


class _BlockPicker(HTMLParser):
    """Picks the candidate blocks as their elements close, without a tree.

    Its three handlers hold every rule (drop, void, link, implicit close,
    block choice); both token sources call them: the fused scanner
    (``_scan_into``) and, for documents outside its grammar, the stdlib
    ``HTMLParser`` loop this class inherits.

    State: one list of text chunks (a " " chunk before and after each block
    element), running counts of stripped chars and of chars inside <a>, the
    picks as (start, end, is_pre) slices of the chunks, and one frame per
    open element: [tag, chunk start, chars at open, link chars at open,
    picks start, has a block child].  Every close is O(1) amortized at any
    depth; the picked slices are joined once, by ``text``."""

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self._chunks: list[str] = []
        self._chars = 0
        self._link = 0
        self._picks: list[tuple[int, int, bool]] = []
        self._stack: list[list] = []
        self._drop_depth = 0
        # open elements per tag; "a" is the link depth
        self._open = defaultdict(int)

    def handle_starttag(self, tag, attrs):
        if tag in _VOID_TAGS:
            if tag == "br" and not self._drop_depth:
                self._chunks.append("\n")
            return
        if tag in _DROP_TAGS:
            self._drop_depth += 1
            return
        if self._drop_depth:
            return
        stack = self._stack
        if tag in _BLOCK_TAGS:
            if stack:
                stack[-1][5] = True
            self._chunks.append(" ")
        stack.append([tag, len(self._chunks), self._chars, self._link, len(self._picks), False])
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
            # count without walking the stack, so n stray end tags under n
            # open elements cost O(n), not O(n²).
            return
        # close everything from the top up to AND including the nearest
        # open ``tag``; every <a> closed on the way leaves the link depth,
        # so an unclosed <a> cannot leak link-ness over the rest
        stack = self._stack
        while True:
            frame = stack.pop()
            open_[frame[0]] -= 1
            self._close(frame)
            if frame[0] == tag:
                return

    def handle_data(self, data):
        if self._drop_depth or not data:
            return
        self._chunks.append(data)
        n = len(data.strip())
        self._chars += n
        if self._open["a"]:
            self._link += n

    def _close(self, frame: list) -> None:
        tag, start, chars, link, picks_start, block_child = frame
        if tag in _BOILERPLATE_TAGS:  # gone with all it holds
            del self._chunks[start:]
            del self._picks[picks_start:]
            self._chars = chars
            self._link = link
            return
        if tag in _CANDIDATE_TAGS and not (block_child and tag == "div"):
            # a candidate replaces whatever its descendants picked
            del self._picks[picks_start:]
            total = self._chars - chars
            if tag == "pre":
                if total:
                    self._picks.append((start, len(self._chunks), True))
            elif total >= MIN_BLOCK_CHARS and (self._link - link) / total <= MAX_LINK_DENSITY:
                self._picks.append((start, len(self._chunks), False))
        if tag in _BLOCK_TAGS:
            self._chunks.append(" ")

    def text(self) -> str:
        """Close what is still open, then join the picked blocks."""
        while self._stack:
            self._close(self._stack.pop())
        chunks = self._chunks
        out = []
        for start, end, pre in self._picks:
            raw = "".join(chunks[start:end])
            out.append(raw.strip("\n") if pre else " ".join(raw.split()))
        return "\n".join(out)


# --- fast path: one fused scanner over the markup stdlib parses the same way -
#
# Every alternative accepts only input on which html.parser makes exactly the
# same handler calls: one handle_data(unescape(run)) per text run between
# markup, the same lowered tag names, the same tag ends.  All quantifiers are
# possessive, so a match is the one greedy parse html.parser's own regexes
# take.  Attributes are never parsed (the picker ignores them); the scanner
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


def _scan_into(picker: _BlockPicker, html: str) -> bool:
    """Feed ``picker`` the handler calls html.parser would make for
    ``html``; False (picker state then undefined) when the document leaves
    the covered grammar."""
    starttag = picker.handle_starttag
    endtag = picker.handle_endtag
    data = picker.handle_data
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


def extract_html_status(html: str) -> tuple[str, str]:
    """(main-content text, parse status).  Never raises: when html.parser
    itself rejects the document (it raises AssertionError on "<![ x"), the
    text comes from the elements seen up to the failing construct and the
    status is "error:<class name>" — a failed PDF turn likewise keeps the
    text of the pages before the failure."""
    picker = _BlockPicker()
    status = "ok"
    try:
        if not _scan_into(picker, html):
            picker = _BlockPicker()
            picker.feed(html)
            picker.close()
    except Exception as exc:
        status = "error:%s" % type(exc).__name__
    return picker.text(), status


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
