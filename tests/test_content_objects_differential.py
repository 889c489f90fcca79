"""Differential fuzz: PDFContentParser.iter_objects must yield exactly the
object sequence nextobject produces (positions dropped — execute ignores
them) on arbitrary content-stream soup, including inline images."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pdfparse_spark.kernel.pdfparser import PDFContentParser
from pdfparse_spark.kernel.pdftypes import PDFStream
from pdfparse_spark.kernel.psparse import PSEOF, PSSyntaxError


def _norm(obj):
    if isinstance(obj, PDFStream):
        return ("STREAM", tuple(sorted(map(repr, obj.attrs))), obj.rawdata)
    if isinstance(obj, dict):
        return ("DICT", tuple(sorted((repr(k), _norm(v)) for k, v in obj.items())))
    if isinstance(obj, list):
        return ("LIST", tuple(_norm(v) for v in obj))
    # type-strict: True == 1 and 1 == 1.0, so a bare scalar would let a
    # true -> 1 or 1 -> 1.0 slip through
    return (type(obj).__name__, obj)


def _via_nextobject(data: bytes):
    p = PDFContentParser([PDFStream({}, data)])
    out = []
    for _ in range(4000):
        try:
            _pos, obj = p.nextobject()
        except PSEOF:
            break
        except PSSyntaxError as e:
            out.append(("SYNTAXERROR",))
            break
        out.append(_norm(obj))
    return out


def _via_iter(data: bytes):
    p = PDFContentParser([PDFStream({}, data)])
    out = []
    try:
        for obj in p.iter_objects():
            out.append(_norm(obj))
            if len(out) >= 4000:
                break
    except PSSyntaxError:
        out.append(("SYNTAXERROR",))
    return out


def _assert_same(data: bytes):
    assert _via_iter(data) == _via_nextobject(data), data


_SOUP = st.text(
    alphabet="0123456789+-. /#()<>[]{}\\\r\n\t BIDEq'\"Tjf*",
    max_size=160,
).map(lambda s: s.encode("latin-1"))


@given(_SOUP)
@settings(max_examples=300, deadline=2000, suppress_health_check=[HealthCheck.too_slow])
def test_iter_objects_matches_nextobject_soup(data):
    _assert_same(data)


@given(st.binary(max_size=100))
@settings(max_examples=150, deadline=2000, suppress_health_check=[HealthCheck.too_slow])
def test_iter_objects_matches_nextobject_binary(data):
    _assert_same(data)


def test_iter_objects_edge_cases():
    for data in [
        b"BT /F1 12 Tf 72 720 Td (Hi) Tj ET",
        b"[(a) -120 (b)] TJ",
        b"[[1 2] <</A 1>> 3] x",
        b"BI /W 4 /H 4 ID rawbytes EI Q",
        b"BI /W 4 ID ab\nEI\n(post) Tj",
        b"ID without bi EI",
        b"<< /odd >>",          # odd dict → syntax error in both
        b"[ >> ] } ]",          # mismatched delimiters → lenient drops
        b"<</A[1 2]/B<</C 3>>>>",
        b"{ 1 2 }",
        b"BI /A [1 2] ID x EI",
        b"(unterminated",
        b"[1 (s",
        b"[1 BI /W 4 /H 4 ID ab EI 2] TJ",  # inline image inside an array
        b"BI /W 4 /H ID ab EI (x) Tj",  # odd inline dict: dropped
        b"q ID ab EI Q",  # ID with no BI: dropped, its bytes stay tokens
        b"[1 2 ID ab EI] TJ",  # ... also inside an array
        b"1 0 0 1 2 3 cm q << /A 1 /B >> Q",  # odd dict after operators
        # show lines: one whitespace byte between Tj and T* (else two tokens)
        b"BT 14 TL (a) Tj T* (b)Tj\nT* (c) Tj  T* (d) Tj\r\nT* (e) Tj T*x ET",
        b"[(a) Tj T*] TJ",
        b"<< /A (a) Tj T* >>",  # string, Tj and T*: four dict items
        b"[(a) Tj T* (b) Tj] TJ (c) Tj T*",
    ]:
        _assert_same(data)
