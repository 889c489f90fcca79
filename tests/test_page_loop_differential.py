"""Differential tests for the interpreter's inlined show path.

For exactly a ``SimpleTextDevice``, ``PDFPageInterpreter.execute`` runs Tj
and T* inline (``_execute_simple``); every other
device, a subclass of ``SimpleTextDevice`` included, takes the plain
``do_*`` dispatch with ``render_string``, which stays the authority.  These
tests run both on the same documents and compare everything a caller or the
split merge reads: text, spans, status, ``first_y``, ``last_y`` and
``rendered_any``."""

from __future__ import annotations

import base64

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pdfparse_spark.fixtures.pdf_gen import (
    _assemble,
    _doc_skeleton,
    _stream,
    build_pdf_fixtures,
    make_big_pdf,
)
from pdfparse_spark.kernel import extract as kernel_extract
from pdfparse_spark.kernel import pdfparser, psparse
from pdfparse_spark.kernel.device import SimpleTextDevice
from pdfparse_spark.kernel.extract import extract_pdf_bytes
from pdfparse_spark.kernel.interp import PDFPageInterpreter, process_pdf
from pdfparse_spark.kernel.pdfparser import PDFContentParser
from pdfparse_spark.kernel.pdftypes import PDFStream


class PlainDispatchDevice(SimpleTextDevice):
    """The golden device under the plain dispatch (not exactly the class)."""


def _run(device_cls, data: bytes) -> tuple:
    device = device_cls()
    try:
        process_pdf(device, data)
        status = "ok"
    except Exception as exc:
        status = "error:%s" % type(exc).__name__
    return (device.get_text(), device.spans, status, device.first_y,
            device.last_y, device.rendered_any)


def _both(data: bytes) -> tuple[tuple, tuple, list]:
    """(inline result, plain result, one entry per content buffer that took
    the inline loop: True when it ran on the whole-buffer tokens, False when
    on the per-token parser's objects)."""
    paths = []
    inline = PDFPageInterpreter._execute_simple

    def spy(self, tokens, lookup):
        paths.append(lookup is not pdfparser._same)
        return inline(self, tokens, lookup)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(PDFPageInterpreter, "_execute_simple", spy)
        fast = _run(SimpleTextDevice, data)
        n_inline = len(paths)
        plain = _run(PlainDispatchDevice, data)
    assert len(paths) == n_inline, "a subclass must take the plain dispatch"
    return fast, plain, paths


def _segments(data: bytes, window: tuple[int, int]) -> tuple[dict, dict]:
    text = "pdfb64:" + base64.b64encode(data).decode()
    fast = kernel_extract.extract_pdf_segment(text, *window)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(kernel_extract, "SimpleTextDevice", PlainDispatchDevice)
        plain = kernel_extract.extract_pdf_segment(text, *window)
    return fast, plain


_DOCS = [fx.data for fx in build_pdf_fixtures()] + [
    make_big_pdf(4, 9, seed=3).data, make_big_pdf(20, 40, seed=1).data,
]


@pytest.mark.parametrize("i", range(len(_DOCS)))
def test_documents_match_the_plain_dispatch(i):
    fast, plain, paths = _both(_DOCS[i])
    assert fast == plain
    if fast[1]:  # pages rendered: the inline loop ran for them
        assert len(paths) >= len(fast[1])
    for window in [(1, 2), (2, 4), (1, 99)]:
        seg_fast, seg_plain = _segments(_DOCS[i], window)
        assert seg_fast == seg_plain, window


# --- generated content streams ------------------------------------------------

_CMAP = (
    b"/CIDInit /ProcSet findresource begin 12 dict begin begincmap\n"
    b"1 begincodespacerange\n<00> <FF>\nendcodespacerange\n"
    b"3 beginbfchar\n<41> <00660066>\n<42> <>\n<43> <FFFE>\nendbfchar\n"
    b"endcmap CMapName currentdict /CMap defineresource pop end end"
)
# F1 Helvetica (StandardEncoding), F2 ToUnicode with a multi-char, an empty
# and a U+FFFE value, F3 /Differences; X1 a Form XObject that renders text
# (with F1 from its own resources), X2 one whose stream names an undefined
# font after its text, X3 an image
_RESOURCES = (
    b"<< /Font << /F1 4 0 R /F2 6 0 R /F3 7 0 R >> "
    b"/XObject << /X1 8 0 R /X2 9 0 R /X3 10 0 R >> >>"
)
_EXTRA = {
    6: b"<< /Type /Font /Subtype /Type1 /BaseFont /Custom /ToUnicode 11 0 R >>",
    7: (b"<< /Type /Font /Subtype /Type1 /BaseFont /Times-Roman /Encoding "
        b"<< /Differences [65 /alpha /uni0042 /fi 97 /uniFFFE] >> >>"),
    8: _stream(
        b"/Type /XObject /Subtype /Form /BBox [0 0 200 200] /Matrix [1 0 0 1 0 100] "
        b"/Resources << /Font << /F1 4 0 R >> >>",
        b"BT /F1 10 Tf 14 TL 5 5 Td (in form) Tj T* [(x) -40 (y)] TJ ET",
    ),
    9: _stream(
        b"/Type /XObject /Subtype /Form /BBox [0 0 200 200]",
        b"BT /F1 9 Tf 0 0 Td (before) Tj /F9 9 Tf (after) Tj ET",
    ),
    10: _stream(b"/Type /XObject /Subtype /Image /Width 1 /Height 1", b"\x00"),
    11: _stream(b"", _CMAP),
}

_OPERANDS = [
    b"0", b"1", b"-2", b"3.5", b"12", b"720", b"-14", b"0.5",
    b"(AB)", b"(Hello)", b"()", b"<41424344>", b"(\\101BC)",
    b"/F1", b"/F2", b"/F3", b"/X1", b"/DeviceRGB", b"true",
    b"[(a) -120 (b)]", b"[]", b"[(x) (y) 3]", b"[-50 (z)]", b"[(a) Tj T*]",
]
_TEXT_OPS = [b"Tj", b"TJ", b"'", b'"', b"T*", b"Td", b"TD", b"Tm", b"BT", b"ET",
             b"TL", b"Tc", b"Tw", b"Tz", b"Ts", b"Tr"]
_OTHER_OPS = [b"q", b"Q", b"cm", b"g", b"rg", b"G", b"RG", b"k", b"cs", b"sc", b"scn",
              b"Do", b"re", b"f", b"m", b"l", b"S", b"n", b"W", b"BMC", b"EMC", b"MP",
              b"Tf", b"d0"]
# well-formed statements keep the generated pages rendering
_GOOD = [
    b"BT", b"ET", b"/F1 12 Tf", b"/F2 10 Tf", b"/F3 11 Tf", b"72 720 Td", b"0 -14 Td",
    b"0 2 Td", b"14 TL", b"T*", b"(Line) Tj", b"(ABC) Tj", b"[(A) -30 (B)] TJ",
    b"(Line) Tj T*", b"(ABC)Tj\nT*", b"() Tj T*", b"(A) Tj  T*", b"(B) Tj T*x",
    b"(q) '", b"1 2 (w) \"", b"1 0 0 1 50 500 Tm", b"1 0 0 1 72 0 Tm", b"2 0 0 2 0 -3 Tm",
    b"0 -20 TD", b"q", b"Q",
    b"1 0 0 1 5 5 cm", b"/X1 Do", b"/X3 Do", b"0.5 g", b"/DeviceRGB cs 1 0 0 sc",
]


@st.composite
def _statement(draw) -> bytes:
    if draw(st.integers(0, 3)):
        return draw(st.sampled_from(_GOOD))
    operands = draw(st.lists(st.sampled_from(_OPERANDS), max_size=7))
    return b" ".join(operands + [draw(st.sampled_from(_TEXT_OPS + _OTHER_OPS))])


@st.composite
def _content(draw) -> bytes:
    statements = draw(st.lists(_statement(), min_size=1, max_size=25))
    # most pages choose a font first, so their shows render text
    statements.insert(0, draw(st.sampled_from(
        [b"", b"BT /F1 12 Tf 72 720 Td", b"BT /F2 10 Tf", b"/F3 9 Tf 14 TL 0 300 Td"])))
    if draw(st.integers(0, 4)) == 0:  # an undefined font partway through
        statements.insert(draw(st.integers(0, len(statements))), b"/F9 12 Tf")
    if draw(st.integers(0, 5)) == 0:
        statements.insert(draw(st.integers(0, len(statements))), b"/X2 Do")
    return b"\n".join(statements)


def _doc(content: bytes) -> bytes:
    return _assemble(_doc_skeleton(content, resources=_RESOURCES, extra_objs=_EXTRA))


@given(st.lists(_content(), min_size=2, max_size=2))
@settings(max_examples=150, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_generated_streams_match_the_plain_dispatch(pages):
    # one page per stream, and the same streams as one two-page document,
    # so state carried across pages (last_y) is compared too
    for content in pages:
        fast, plain, paths = _both(_doc(content))
        assert fast == plain, content
        assert paths
    bodies = _doc_skeleton(pages[0], resources=_RESOURCES, extra_objs=dict(_EXTRA))
    bodies[2] = b"<< /Type /Pages /Kids [3 0 R 12 0 R] /Count 2 >>"
    bodies[12] = bodies[3].replace(b"/Contents 5 0 R", b"/Contents 13 0 R")
    bodies[13] = _stream(b"", pages[1])
    data = _assemble(bodies)
    fast, plain, _ = _both(data)
    assert fast == plain, pages
    for window in [(1, 2), (2, 3)]:
        seg_fast, seg_plain = _segments(data, window)
        assert seg_fast == seg_plain, (pages, window)


@pytest.mark.parametrize("content, text, status", [
    # short stacks: every operator pops what there is
    (b"BT Tj ' TJ Td TD Tm 5 Td 1 2 3 Tm /F1 12 Tf (a) Tj ET", "\na", "ok"),
    # a Tj on an empty stack still applies the newline policy and first_y
    (b"BT Tj ET", "\n", "ok"),
    # |dy| just either side of 3; T* scales the leading by the matrix's d
    (b"BT /F1 12 Tf 0 100 Td (a) Tj 0 -3.5 Td (b) Tj 0 -3 Td (c) Tj ET", "\na\nbc", "ok"),
    (b"BT /F1 12 Tf 1 0 0 2 0 100 Tm 2 TL (a) Tj T* (b) Tj 1 0 0 1 0 0 Tm T* (c) Tj ET",
     "\na\nb\nc", "ok"),
    # TJ over a non-list, Tj over a non-string, show before any Tf
    (b"BT (none) Tj /F1 12 Tf 5 TJ /F1 Tj (ok) Tj ET", "\nok", "ok"),
    # a non-numeric operand fails the arithmetic on both paths alike
    (b"BT /F1 12 Tf 72 720 Td (a) Tj (x) 3 Td (b) Tj ET", "\na", "error:TypeError"),
    (b"BT /F1 12 Tf (a) Tj 1 0 0 1 0 (y) Tm (b) Tj ET", "\na", "error:TypeError"),
    (b"BT /F1 12 Tf (a) Tj 0 /X TD (b) Tj ET", "\na", "error:TypeError"),
    # the text before an undefined Tf stays, in the page and in a form
    (b"BT /F1 12 Tf 72 720 Td (kept) Tj /F9 12 Tf (lost) Tj ET", "\nkept",
     "error:PDFInterpreterError"),
    (b"BT /F1 12 Tf 72 720 Td (out) Tj ET /X2 Do (lost) Tj", "\nout\nbefore",
     "error:PDFInterpreterError"),
    # a form renders into the same device, between inline shows
    (b"BT /F1 12 Tf 0 10 Td (a) Tj ET q /X1 Do Q BT /F1 12 Tf 0 10 Td (b) Tj ET",
     "\na\nin form\nxy\nb", "ok"),
    # ToUnicode values: multi-char, empty, U+FFFE; /Differences
    (b"BT /F2 12 Tf (ABCD) Tj /F3 12 Tf 0 -20 Td (ABCa) Tj ET",
     "\nff￾D\nαBﬁ￾", "ok"),
])
def test_pinned_streams(content, text, status):
    fast, plain, paths = _both(_doc(content))
    assert fast == plain
    assert paths
    assert fast[0] == text and fast[2] == status


# --- the whole-buffer tokens: boundaries, paths and cache states -------------

_SHOWN = b"BT /F1 12 Tf 72 720 Td (x) Tj "  # rendered text before the case
_LINES = b"BT /F1 12 Tf 14 TL 72 720 Td "  # T* moves down 14


_BOUNDARY_CASES = [
    # show tokens: "(string)", at most one whitespace byte, a whole "Tj"
    (b"BT /F1 12 Tf (a)Tj ET", True, "\na", "ok"),
    (b"BT /F1 12 Tf (a) Tjx (b) Tj ET", True, "\nb", "ok"),
    (b"BT /F1 12 Tf (a)\nTj ET", True, "\na", "ok"),
    (b"BT /F1 12 Tf (a)  \n Tj ET", True, "\na", "ok"),
    (b"BT /F1 12 Tf (a) Tj", True, "\na", "ok"),  # Tj at the end of the buffer
    (b"BT /F1 12 Tf (a) Tj#", False, "\na", "ok"),  # '#' is outside the bulk grammar
    (b"BT /F1 12 Tf <41> Tj ET", True, "\nA", "ok"),
    (b"BT /F1 12 Tf [(a) Tj] TJ ET", True, "\na", "ok"),  # the array [a Tj]
    (b"BT /F1 12 Tf [(a) Tj (b) Tj] TJ ET", True, "\nab", "ok"),
    # collections and malformed input after rendered text
    (_SHOWN + b"[(a) 5 (b)] TJ ET", True, "\nxab", "ok"),
    (_SHOWN + b"/Span << /MCID 0 >> BDC (c) Tj EMC ET", True, "\nxc", "ok"),
    (_SHOWN + b"] (c) Tj >> (d) Tj } ET", True, "\nxcd", "ok"),  # stray closers
    (_SHOWN + b"(c) Tj [ (d) Tj", True, "\nxc", "ok"),  # an open '[' at the end
    (_SHOWN + b"[ (d) Tj", True, "\nx", "ok"),
    (_SHOWN + b"(c) Tj << /A >> (d) Tj ET", True, "\nxc", "error:PSSyntaxError"),
    (_SHOWN + b"BI /W 1 /H 1 ID \x01 EI (c) Tj ET", False, "\nxc", "ok"),
    # an integer too long for int() is dropped: Tj pops the string under it
    (_SHOWN + b"(c) " + b"1" * 4301 + b" Tj ET", True, "\nxc", "ok"),
    # an escaped string: the whole buffer goes to the per-token parser
    (b"BT /F1 12 Tf (q) Tj (a\\)b) Tj ET", False, "\nqa)b", "ok"),
    # show lines: a show token, exactly one whitespace byte and a whole "T*"
    (_LINES + b"(a) Tj T* (b) Tj ET", True, "\na\nb", "ok"),
    (_LINES + b"(a)Tj T* (b) Tj ET", True, "\na\nb", "ok"),
    (_LINES + b"(a) Tj\nT* (b) Tj ET", True, "\na\nb", "ok"),
    (_LINES + b"(a) Tj\r\nT* (b) Tj ET", True, "\na\nb", "ok"),  # two tokens
    (_LINES + b"(a) Tj  T* (b) Tj ET", True, "\na\nb", "ok"),  # two tokens
    (_LINES + b"(a) Tj T*x (b) Tj ET", True, "\nab", "ok"),  # T*x is an unknown operator
    (_LINES + b"(a) Tj T*(b) Tj ET", True, "\na\nb", "ok"),
    (_LINES + b"(a) Tj T*", True, "\na", "ok"),  # at the end of the buffer
    # the first operator: no font yet, and first_y from the identity matrix
    (b"(a) Tj T* /F1 12 Tf 14 TL (b) Tj T* (c) Tj", True, "\nb\nc", "ok"),
    (_LINES + b"[(a) Tj T*] TJ (b) Tj ET", True, "\nab", "ok"),  # the array [a Tj T*]
    (_LINES + b"<41> Tj T* (b) Tj ET", True, "\nA\nb", "ok"),
    # T* moves by the leading (TL negated) times the matrix's d
    (b"BT /F1 12 Tf 0 TL 72 720 Td (a) Tj T* (b) Tj T* ET", True, "\nab", "ok"),
    (b"BT /F1 12 Tf -14 TL 72 720 Td (a) Tj T* (b) Tj ET", True, "\na\nb", "ok"),
    (b"BT /F1 12 Tf 2.5 TL 72 720 Td (a) Tj T* (b) Tj T* (c) Tj ET", True, "\nabc", "ok"),
    (b"BT /F1 12 Tf 1 0 0 0.2 0 100 Tm 14 TL (a) Tj T* (b) Tj ET", True, "\nab", "ok"),
    (b"BT /F1 12 Tf 1 0 0 0.25 0 100 Tm 14 TL (a) Tj T* (b) Tj ET", True, "\na\nb", "ok"),
]


@pytest.mark.parametrize("content, whole_buffer, text, status", _BOUNDARY_CASES)
def test_boundary_streams(content, whole_buffer, text, status):
    fast, plain, paths = _both(_doc(content))
    assert fast == plain
    assert paths == [whole_buffer]
    assert fast[0] == text and fast[2] == status


def test_show_token_boundaries():
    def tokens(data: bytes) -> list:
        tokens, lookup = PDFContentParser([PDFStream({}, data)]).tokens()
        assert lookup is not pdfparser._same, data
        return tokens

    assert tokens(b"(a)Tj") == [b"(a)Tj"]
    assert tokens(b"(a) Tj") == [b"(a) Tj"]
    assert tokens(b"q\n(a)\nTj Q") == [b"q", b"\n(a)\nTj", b" Q"]
    assert tokens(b"(a)  Tj") == [b"(a)", b"  Tj"]
    assert tokens(b"(a) Tjx") == [b"(a)", b" Tjx"]
    assert tokens(b"(a) Tj[") == [b"(a) Tj", b"["]
    assert tokens(b"<41> Tj") == [b"<41>", b" Tj"]
    assert tokens(b"[(a) Tj] TJ") == [b"[", b"(a) Tj", b"]", b" TJ"]
    # show lines: exactly one whitespace byte between Tj and a whole T*
    assert tokens(b"(a) Tj T*") == [b"(a) Tj T*"]
    assert tokens(b"(a)Tj T*") == [b"(a)Tj T*"]
    assert tokens(b"(a) Tj\nT*") == [b"(a) Tj\nT*"]
    assert tokens(b"(a) Tj\r\nT*") == [b"(a) Tj", b"\r\nT*"]
    assert tokens(b"(a) Tj  T*") == [b"(a) Tj", b"  T*"]
    assert tokens(b"(a) Tj T*x") == [b"(a) Tj", b" T*x"]
    assert tokens(b"(a) TjT*") == [b"(a)", b" TjT*"]
    assert tokens(b"(a) Tj T*(b) Tj") == [b"(a) Tj T*", b"(b) Tj"]
    assert tokens(b"[(a) Tj T*] TJ") == [b"[", b"(a) Tj T*", b"]", b" TJ"]
    assert tokens(b"<41> Tj T*") == [b"<41>", b" Tj", b" T*"]


# The token caches (psparse's _VALUE_CACHE, _KW_CACHE and _LIT_CACHE) may
# change speed, never values: a cold cache sends every token through
# _token_value, a full one (of keys no token matches) keeps it that way.
_TOKEN_CACHES = (psparse._VALUE_CACHE, psparse._KW_CACHE, psparse._LIT_CACHE)


@pytest.fixture
def token_caches():
    saved = [dict(cache) for cache in _TOKEN_CACHES]
    yield
    for cache, entries in zip(_TOKEN_CACHES, saved):
        cache.clear()
        cache.update(entries)


def _set_token_caches(state: str, run) -> None:
    for cache in _TOKEN_CACHES:
        cache.clear()
        if state == "full":
            cache.update((b"\x00unused %d" % i, None) for i in range(psparse._TOKEN_CACHE_MAX))
    if state == "warm":
        run()


def test_token_cache_states_change_no_value(token_caches):
    docs = _DOCS + [_doc(case[0]) for case in _BOUNDARY_CASES]
    results = {}
    for state in ("cold", "warm", "full"):
        got = results[state] = []
        for data in docs:
            _set_token_caches(state, lambda: _both(data))
            got.append(_both(data))
        for fx in build_pdf_fixtures():
            _set_token_caches(state, lambda: extract_pdf_bytes(fx.data))
            assert extract_pdf_bytes(fx.data) == (fx.golden_text, fx.golden_spans,
                                                  fx.golden_status), (state, fx.name)
        if state == "full":
            assert all(len(cache) == psparse._TOKEN_CACHE_MAX for cache in _TOKEN_CACHES)
    assert results["cold"] == results["warm"] == results["full"]
