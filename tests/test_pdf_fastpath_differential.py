"""Differential tests for the PDF kernel's whole-buffer fast path.

One regex pass (``psparse.scan_tokens``) tokenizes a whole content stream
(``PDFContentParser.iter_objects``) or a whole indirect-object body, stream
objects included (``PDFParser.object_stack_fast``); ``nextobject`` with
``_capture_stream`` stays the authority.
These tests pin fast == ``nextobject``, type-strict (``True`` is not ``1``
and ``1`` is not ``1.0``), check that well-formed input takes the fast path,
and that every input outside its grammar goes whole to the per-token
path."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pdfparse_spark.fixtures.pdf_gen import _assemble, _doc_skeleton, build_pdf_fixtures, make_big_pdf
from pdfparse_spark.kernel.extract import extract_pdf_bytes
from pdfparse_spark.kernel.pdfdocument import PDFDocument
from pdfparse_spark.kernel import pdfparser
from pdfparse_spark.kernel.pdfparser import PDFContentParser, PDFParser
from pdfparse_spark.kernel.pdftypes import PDFObjRef, PDFStream, stream_value
from pdfparse_spark.kernel.psparse import (
    _VALUE_CACHE, KWD, LIT, PSEOF, PSBaseParser, PSSyntaxError, scan_tokens)

_SETTINGS = dict(deadline=4000, suppress_health_check=[HealthCheck.too_slow])


def _norm(obj):
    if isinstance(obj, PDFStream):
        return ("STREAM", _norm(obj.attrs), obj.rawdata, obj.objid, obj.genno,
                obj.decipher is not None)
    if isinstance(obj, PDFObjRef):
        return ("REF", obj.objid)
    if isinstance(obj, dict):
        return ("DICT", tuple(sorted((repr(k), _norm(v)) for k, v in obj.items())))
    if isinstance(obj, list):
        return ("LIST", tuple(_norm(v) for v in obj))
    return (type(obj).__name__, obj)


# --- content streams ---------------------------------------------------------


def _iter_objects(streams: list) -> tuple[bool, list]:
    """(fast path taken, iter_objects result): the fast path takes no
    token from ``nexttoken``."""
    parser = PDFContentParser(streams)
    nexttoken, calls = parser.nexttoken, []
    parser.nexttoken = lambda: calls.append(1) or nexttoken()
    out = []
    try:
        for obj in parser.iter_objects():
            out.append(_norm(obj))
    except PSSyntaxError:
        out.append(("SYNTAXERROR",))
    return not calls, out


def _via_nextobject(parser: PDFContentParser):
    try:
        while True:
            yield parser.nextobject()[1]
    except PSEOF:
        return


def _content(data: bytes) -> tuple[bool, list, list]:
    """(fast path taken, iter_objects result, nextobject result)."""
    fast, got = _iter_objects([PDFStream({}, data)])
    want = []
    try:
        for obj in _via_nextobject(PDFContentParser([PDFStream({}, data)])):
            want.append(_norm(obj))
    except PSSyntaxError:
        want.append(("SYNTAXERROR",))
    return fast, got, want


_SCALARS = [
    b"12.", b"+3", b"-0", b".5", b"-.5", b"0.25", b"7", b"-12.75",
    b"/F1", b"/Name", b"/", b"true", b"false", b"null",
    b"()", b"(Hello, world)", b"(a\tb)",
    b"<>", b"<4142>", b"<414>", b"<41 4>", b"< a B\nc >",
]
_OPERATORS = [b"Tj", b"TJ", b"T*", b"Tf", b"Td", b"cm", b"q", b"Q", b"BT", b"ET", b"re", b"R", b"EI"]
_SEPARATORS = st.sampled_from([b" ", b"\n", b"\r\n", b"\t", b"  ", b" \r"])


def _collections(inner):
    return st.one_of(
        st.lists(inner, max_size=5).map(lambda xs: b"[" + b" ".join(xs) + b"]"),
        st.lists(st.tuples(st.sampled_from([b"/A", b"/B", b"/Font"]), inner), max_size=4).map(
            lambda kvs: b"<<" + b" ".join(k + b" " + v for k, v in kvs) + b">>"
        ),
        st.lists(inner, max_size=5).map(lambda xs: b"{ " + b" ".join(xs) + b" }"),
    )


_ITEM = st.recursive(st.sampled_from(_SCALARS + _OPERATORS), _collections, max_leaves=8)
# unbalanced pieces: stray closers, and openers that are never closed
_STRAY = st.sampled_from([b"]", b">>", b"}", b"[", b"{"])


@st.composite
def _streams(draw) -> bytes:
    items = draw(st.lists(_ITEM, max_size=12))
    for _ in range(draw(st.integers(0, 2))):
        items.insert(draw(st.integers(0, len(items))), draw(_STRAY))
    if draw(st.booleans()):
        # a dict left open at the end of the stream (its items are dropped);
        # an open "<<" earlier could meet a stray ">>" and make an odd dict
        items += [b"<<"] + draw(st.lists(_ITEM, max_size=3))
    out = b""
    for item in items:
        out += item + draw(_SEPARATORS)
    return out


@given(st.lists(_streams(), min_size=10, max_size=10))
@settings(max_examples=60, **_SETTINGS)
def test_content_fast_path_matches_per_token(batch):
    n_fast = 0
    for data in batch:
        fast, got, want = _content(data)
        assert got == want, data
        n_fast += fast
    assert n_fast >= 0.9 * len(batch), [d for d in batch if not _content(d)[0]][:5]


def test_content_scalars_keep_their_types():
    fast, got, _ = _content(b"true 1 1.0 false 0 -0 .5 12. <414> (s) /N null")
    assert fast
    assert got == [
        ("bool", True), ("int", 1), ("float", 1.0), ("bool", False), ("int", 0),
        ("int", 0), ("float", 0.5), ("float", 12.0), ("bytes", b"A\x04"),
        ("bytes", b"s"), ("PSLiteral", LIT("N")), ("PSKeyword", KWD("null")),
    ]


def test_hex_closer_pairs_like_the_authority():
    # "<AB>>>": the per-token scanner leaves the hex string's '>' to pair
    # with the next one; the bulk scan consumes it — same tokens either way
    for data in [b"<AB>>> x", b"<<<AB>>> y", b"[<AB>] z", b"<AB>> w"]:
        fast, got, want = _content(data)
        assert got == want, data
    assert _content(b"<AB>>> x")[0] and not _content(b"<AB>> w")[0]


def test_content_fallbacks_go_whole_to_the_authority():
    for data in [
        b"BT % comment\n(x) Tj ET",  # comment
        b"(a\\)b) Tj",  # escaped string
        b"(a(b)c) Tj",  # nested string
        b"/A#42 Tf",  # '#' escape in a name
        b"q > Q",  # lone '>'
        b"q \x00 Q",  # NUL is not whitespace
        b"' \" Tj",  # single-byte operators outside the bulk grammar
        b"<41 Tj",  # unterminated hex string
        b"BI /W 4 /H 4 ID rawbytes EI Q",  # inline image
        b"q ID x EI",  # stray ID
    ]:
        fast, got, want = _content(data)
        assert not fast, data
        assert got == want, data


def test_odd_dict_raises_after_the_objects_before_it():
    # the fast path keeps it: the operators before the odd dict come out,
    # then the error, on both paths
    for data, fast in [(b"1 2 re << /odd >> f", True), (b"% c\n1 2 re << /odd >> f", False)]:
        took, got, want = _content(data)
        assert took == fast and got == want, data
        assert got[-4:] == [("int", 1), ("int", 2), ("PSKeyword", KWD("re")), ("SYNTAXERROR",)]
    # any other assembly error waits the same way (an unhashable inline key)
    for parse in (PDFContentParser.iter_objects, _via_nextobject):
        got = []
        with pytest.raises(TypeError):
            for obj in parse(PDFContentParser([PDFStream({}, b"1 2 re BI [1] 2 ID x EI Q")])):
                got.append(_norm(obj))
        assert got == [("int", 1), ("int", 2), ("PSKeyword", KWD("re"))]


def test_long_integer_is_dropped_by_the_per_token_fast_path():
    # int() refuses more than 4300 digits; the full scanner drops the token
    p = PSBaseParser(b"1" * 5000 + b" 2")
    assert p.nexttoken() == (5001, 2)
    # the whole-buffer scan covers it, and its assembler drops it too
    tokens = scan_tokens(b"1" * 5000 + b" 2")
    out = []
    assert tokens is not None
    assert pdfparser._assemble(tokens, pdfparser._OBJECT_ACTIONS, out, _VALUE_CACHE.get)
    assert out == [2]
    fast, got, want = _content(b"1" * 5000 + b" 2 Td")
    assert fast and got == want == [("int", 2), ("PSKeyword", KWD("Td"))]


# --- indirect objects --------------------------------------------------------


def _open(data: bytes) -> PDFDocument:
    parser = PDFParser(data)
    doc = PDFDocument()
    parser.set_document(doc)
    doc._parser = parser  # object fetch only: no xref needed
    return doc


def _getobj_both(data: bytes, pos: int, objid: int):
    """(fast path taken, result with it, result of nextobject alone)."""
    doc = _open(data)
    fast = doc._parser.object_stack_fast(pos, objid) is not None

    def authority():
        doc = _open(data)
        doc._parser.object_stack_fast = lambda pos, objid: None
        try:
            return _norm(doc._getobj_parse(pos, objid))
        except PSSyntaxError:
            return ("SYNTAXERROR",)

    try:
        got = _norm(doc._getobj_parse(pos, objid))
    except PSSyntaxError:
        got = ("SYNTAXERROR",)
    return fast, got, authority()


_OBJ_SCALARS = [
    b"0", b"12", b"-3", b"4.5", b".5", b"true", b"false", b"null",
    b"/Type", b"/Page", b"(text)", b"<4142>", b"<414>", b"3 0 R", b"12 5 R",
]


def _obj_collections(inner):
    return st.one_of(
        st.lists(inner, max_size=5).map(lambda xs: b"[" + b" ".join(xs) + b"]"),
        st.lists(st.tuples(st.sampled_from([b"/A", b"/Kids", b"/Count"]), inner), max_size=4).map(
            lambda kvs: b"<< " + b" ".join(k + b" " + v for k, v in kvs) + b" >>"
        ),
    )


_OBJ_ITEM = st.recursive(st.sampled_from(_OBJ_SCALARS), _obj_collections, max_leaves=12)


@given(st.lists(_OBJ_ITEM, max_size=6), _SEPARATORS)
@settings(max_examples=200, **_SETTINGS)
def test_object_fast_path_matches_nextobject(items, sep):
    body = sep.join(items)
    data = b"7 0 obj" + sep + body + sep + b"endobj\n"
    fast, got, want = _getobj_both(data, 0, 7)
    assert got == want, data
    assert fast == bool(items), data


def test_object_cases():
    for body, fast in [
        (b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] >>", True),
        (b"null", True),
        (b"1 2 3 4 5 6", True),  # first of the last four stack items
        (b"[1 2 R] 3", True),
        (b"5 " + b"1" * 4301 + b" 0 R", True),  # the over-long integer is dropped
        (b"", False),  # empty stack: the authority reads on past endobj
        (b"1.5 0 R", False),  # R after a float
        (b"true 0 R", False),  # R after a bool
        (b"(12) 0 R", False),  # R after a string
        (b"0 R", False),  # R over one operand
        (b"/Xendobj 1", False),  # endobj inside a name
        (b"/endobj 1", False),  # ... right after the '/'
        (b"1 2 3 4 endobjx 5", False),  # a longer keyword
        (b"(a endobj b) 1", False),  # endobj inside a string
        (b"[1 2", False),  # collection open at endobj
        (b"1 [2 3", False),  # ... the authority pops endobj's four from it
        (b"<< /A >>", False),  # odd dict
        (b"1 xref 2", False),
        (b"% c\n1", False),
    ]:
        data = b"5 0 obj " + body + b" endobj\n" + b"6 0 obj (tail) endobj\n"
        took, got, want = _getobj_both(data, 0, 5)
        assert got == want, body
        assert took == fast, body


def test_two_objects_back_to_back():
    data = b"1 0 obj << /A 2 0 R >> endobj 2 0 obj [true false null] endobj"
    for pos, objid in [(0, 1), (data.index(b"2 0 obj"), 2)]:
        fast, got, want = _getobj_both(data, pos, objid)
        assert fast and got == want
    assert _getobj_both(data, 0, 2)[0] is False  # header names another object


# --- stream objects -----------------------------------------------------------


def _stream_obj(dict_body: bytes, data: bytes, eol: bytes = b"\n", tail: bytes = b"endstream\nendobj\n",
                objid: int = 5, genno: int = 0) -> bytes:
    return b"%d %d obj\n%s\nstream%s%s%s" % (objid, genno, dict_body, eol, data, tail)


_NEXT = b"6 0 obj\n<< /Length 3 >>\nstream\nnxt\nendstream\nendobj\n"


@pytest.mark.parametrize("dict_body, data, eol, tail, fast", [
    (b"<< /Length 5 >>", b"BT ET", b"\n", b"endstream\nendobj\n", True),
    (b"<< /Length 5 >>", b"BT ET", b"\r\n", b"endstream\nendobj\n", True),
    (b"<< /Length 5 >>", b"BT ET", b"\r", b"endstream\nendobj\n", True),
    (b"<< /Length 5 >>", b"BT ET", b" \n", b"endstream\nendobj\n", True),
    (b"<< /Length 5 >>", b"BT ET", b"  \r\n", b"\r\nendstream\r\nendobj\r", True),
    (b"<< /Length 5 >>", b"BT ET", b"\n", b"\nendstream endobj\n", True),  # EOL kept in data
    (b"<< /Length 2 >>", b"BT ET", b"\n", b"endstream\nendobj\n", True),  # short
    (b"<< /Length 0 >>", b"BT ET", b"\n", b"endstream\nendobj\n", True),
    (b"<< /Filter /FlateDecode >>", b"BT ET", b"\n", b"endstream\nendobj\n", True),  # no /Length
    (b"<<>>", b"x endstrea y", b"\n", b"endstream\nendobj\n", True),
    (b"<< /Length 40 >>", b"BT ET", b"\n", b"endstream\nendobj\n", True),  # long: next one's
    (b"<< /Length 900 >>", b"BT ET", b"\n", b"endstream\nendobj\n", False),  # past every one
    (b"<< /Length -3 >>", b"BT ET", b"\n", b"endstream\nendobj\n", False),  # negative
    (b"<< /Length 5.0 >>", b"BT ET", b"\n", b"endstream\nendobj\n", False),
    (b"<< /Length true >>", b"BT ET", b"\n", b"endstream\nendobj\n", False),
    (b"<< /Length 5 >>", b"BT ET", b"\n", b"", False),  # missing endstream
    (b"<< /Length 5 >>", b"BT ET", b"\n", b"endstream 1 2 3 endobj\n", False),
    (b"<< /Length 5 >>", b"BT ET", b"\n", b"endstreamendobj\n", False),
    (b"<< /Length 5 >>", b"BT ET", b" ", b"endstream\nendobj\n", True),  # the "stream" line runs on
    (b"<< /Length 5 >>", b"BT ET", b"", b"endstream\nendobj\n", False),  # one keyword "streamBT"
    (b"1 << /Length 5 >>", b"BT ET", b"\n", b"endstream\nendobj\n", False),  # two values
    (b"[<< /Length 5 >>]", b"BT ET", b"\n", b"endstream\nendobj\n", False),  # not a dict
    (b"<< /Length 5 /T (a stream) >>", b"BT ET", b"\n", b"endstream\nendobj\n", False),
    (b"<< /Length 5 /Substream 1 >>", b"BT ET", b"\n", b"endstream\nendobj\n", False),
    (b"<< /Length 5 >> % c", b"BT ET", b"\n", b"endstream\nendobj\n", False),
    (b"<< /Length 5 /A >>", b"BT ET", b"\n", b"endstream\nendobj\n", False),  # odd dict
])
def test_stream_object_cases(dict_body, data, eol, tail, fast):
    obj = _stream_obj(dict_body, data, eol, tail)
    doc_data = obj + (_NEXT if tail else b"")
    took, got, want = _getobj_both(doc_data, 0, 5)
    assert got == want, (dict_body, data, eol, tail)
    assert took == fast, (dict_body, data, eol, tail)
    if fast:
        assert got[0] == "STREAM" and got[3:5] == (5, 0)


def _indirect_length_doc() -> bytes:
    bodies = _doc_skeleton(b"")
    content = b"BT /F1 12 Tf 72 720 Td (indirect) Tj ET"
    bodies[5] = b"<< /Length 6 0 R >>\nstream\n%s\nendstream" % content
    bodies[6] = b"%d" % len(content)
    return _assemble(bodies)


@pytest.mark.parametrize("data", [fx.data for fx in build_pdf_fixtures()]
                         + [_indirect_length_doc(), make_big_pdf(3, 4, seed=2).data])
def test_documents_match_without_the_object_fast_path(data):
    want_fast = extract_pdf_bytes(data)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(PDFParser, "object_stack_fast", lambda self, pos, objid: None)
        assert extract_pdf_bytes(data) == want_fast


def test_indirect_length_goes_to_the_authority():
    data = _indirect_length_doc()
    assert extract_pdf_bytes(data) == ("\nindirect", [(1, 0, 9)], "ok")
    doc = PDFDocument()
    parser = PDFParser(data)
    parser.set_document(doc)
    doc.set_parser(parser)
    doc.initialize(b"")
    assert parser.object_stack_fast(doc.xrefs[0].offsets[5][1], 5) is None


def test_stream_object_keeps_genno_and_offset_body():
    data = b"junk " + _stream_obj(b"<</Length 3>>", b"abc", genno=7, objid=12)
    took, got, want = _getobj_both(data, 5, 12)
    assert took and got == want
    assert got[2] == b"abc" and got[3:5] == (12, 7)


def test_stream_object_declines_in_xref_fallback():
    data = _stream_obj(b"<< /Length 5 >>", b"BT ET")
    doc = _open(data)
    assert doc._parser.object_stack_fast(0, 5) is not None
    doc._parser.fallback = True  # /Length is ignored once the xref was rebuilt
    assert doc._parser.object_stack_fast(0, 5) is None
    assert stream_value(doc._getobj_parse(0, 5)).rawdata == b"BT ET"


_STREAM_DICTS = [b"<< /Length %d >>", b"<< /Filter /FlateDecode /Length %d /DL 9 >>",
                 b"<</Length %d/Type/XObject>>", b"<< /Length %d /Kids [1 0 R] >>"]
_DATA_BYTES = st.binary(max_size=40) | st.sampled_from(
    [b"BT (x) Tj ET", b"endstrea", b"\nendstream", b"stream\r\n", b"endobj", b"\r\n\r"])


@given(
    st.sampled_from(_STREAM_DICTS), st.lists(_DATA_BYTES, max_size=3).map(b"".join),
    st.integers(-5, 60) | st.none(), st.sampled_from([b"\n", b"\r\n", b"\r", b" \n", b"\t\r\n"]),
    st.sampled_from([b"endstream\nendobj\n", b"\nendstream\nendobj\n", b"\r\nendstream endobj\r",
                     b"endstream\r\nendobj ", b"endstream endobj\n", b"endstream endobj%\n",
                     b"endstream\nendobj<<"]),
)
@settings(max_examples=300, **_SETTINGS)
def test_stream_fast_path_matches_nextobject(dict_form, data, length, eol, tail):
    if length is None:
        length = len(data)
    body = dict_form % length
    doc_data = _stream_obj(body, data, eol, tail) + _NEXT
    took, got, want = _getobj_both(doc_data, 0, 5)
    assert got == want, doc_data
    if 0 <= length <= len(data) and b"endstream" not in data:
        assert took, doc_data  # a direct /Length at or short of the data


def test_big_pdf_takes_no_fallback():
    fx = make_big_pdf(20, 40)
    parser = PDFParser(fx.data)
    doc = PDFDocument()
    parser.set_document(doc)
    doc.set_parser(parser)
    doc.initialize(b"")
    calls = []
    nextobject = parser.nextobject
    parser.nextobject = lambda: calls.append(1) or nextobject()
    pages = list(doc.get_pages())
    assert len(pages) == 20
    for objid, (_, pos) in doc.xrefs[0].offsets.items():
        assert parser.object_stack_fast(pos, objid) is not None, objid
        doc.getobj(objid)
    for page in pages:
        assert _iter_objects([stream_value(c) for c in page.contents])[0]
    assert calls == []  # every object, the 20 content streams included
