"""Glyph decode: the charmap table path of ``PDFFont.decode_text`` against
the per-code rule and ``str.translate``, which stay the authority.

Once a single-byte font has its 256-entry tables, a string decodes through
``codecs.charmap_decode`` over a 256-char table; a code whose text is not
exactly one char is U+FFFE there and sends the string to ``str.translate``.
Every code must decode to what the per-code rule gives."""

from __future__ import annotations

import codecs

import pytest

from pdfparse_spark.fixtures.pdf_gen import _TOUNICODE_FOOTER, _TOUNICODE_HEADER
from pdfparse_spark.kernel.fonts import get_font
from pdfparse_spark.kernel.pdftypes import PDFStream
from pdfparse_spark.kernel.psparse import LIT


def _tounicode(entries: bytes) -> PDFStream:
    return PDFStream({}, _TOUNICODE_HEADER + entries + _TOUNICODE_FOOTER)


def _spec(**entries) -> dict:
    spec = {LIT("Type"): LIT("Font"), LIT("Subtype"): LIT("Type1")}
    spec.update({LIT(k): v for k, v in entries.items()})
    return spec


_FONTS = {
    # StandardEncoding leaves most codes unmapped: <CID x>
    "standard": lambda: _spec(BaseFont=LIT("Helvetica")),
    "winansi": lambda: _spec(BaseFont=LIT("Helvetica"), Encoding=LIT("WinAnsiEncoding")),
    "differences": lambda: _spec(
        BaseFont=LIT("Times-Roman"),
        Encoding={LIT("BaseEncoding"): LIT("WinAnsiEncoding"), LIT("Differences"): [
            65, LIT("alpha"), LIT("fi"), LIT("uniFFFE"), LIT("nosuchglyph"),
            200, LIT("summation"), LIT("uni00410042"),
        ]},
    ),
    "tounicode": lambda: _spec(
        BaseFont=LIT("Custom"), Encoding=LIT("WinAnsiEncoding"),
        ToUnicode=_tounicode(
            b"5 beginbfchar\n<41> <00660066>\n<42> <>\n<43> <FFFE>\n<44> <D835DC00>\n"
            b"<45> <0051>\nendbfchar\n"
        ),
    ),
}


def _per_code(font, code: int) -> str:
    """The rule the tables stand for: to_unichr, <CID x> when unmapped."""
    return font._cid_text(code)


def _graduated(name: str):
    font = get_font(_FONTS[name]())
    while font._table is None:
        font.decode_text(bytes(range(32, 127)))
    return font


@pytest.mark.parametrize("name", sorted(_FONTS))
def test_table_decode_matches_the_rule_on_every_code(name):
    font = _graduated(name)
    table, trans = font._table, font._trans
    assert len(table) == 256 and sorted(trans) == list(range(256))
    for code in range(256):
        data = bytes([code])
        want = _per_code(font, code)
        assert trans[code] == want
        assert data.decode("latin-1").translate(trans) == want
        assert font.decode_text(data) == want, code
        # exactly the single-char texts other than U+FFFE stay in the table
        single = len(want) == 1 and want != "\ufffe"
        assert (table[code] == want) if single else (table[code] == "\ufffe")
    every = bytes(range(256))
    assert font.decode_text(every) == "".join(_per_code(font, c) for c in range(256))
    assert font.decode_text(b"") == ""


def test_undefined_codes_fall_back_per_string():
    font = _graduated("tounicode")
    # A: multi-char, B: empty, C: U+FFFE, D: a surrogate pair, E: one char
    assert font.decode_text(b"EEE") == "QQQ"
    codecs.charmap_decode(b"EEE", "strict", font._table)  # the fast path serves it
    assert font.decode_text(b"xAyBzCwD") == "xffyz\ufffew\U0001d400"
    with pytest.raises(UnicodeDecodeError):
        codecs.charmap_decode(b"A", "strict", font._table)


def test_standard_encoding_holds_cid_placeholders():
    font = _graduated("standard")
    assert font.decode_text(b"Hi\x01\xff") == "Hi<CID 1><CID FF>"
    assert font.decode_text(b"Hello, world") == "Hello, world"


def test_differences_font_decodes_its_own_names():
    font = _graduated("differences")
    # an unknown glyph name keeps the base encoding's char; uniXXXX takes
    # its first four hex digits
    assert font.decode_text(b"ABCDE\xc8\xc9a") == "\u03b1\ufb01\ufffeDE\u2211Aa"


def test_base_encoding_fonts_share_tables_from_the_first_string():
    a = get_font(_FONTS["standard"]())
    b = get_font(_FONTS["standard"]())
    assert a._table is None
    assert a.decode_text(b"Hi") == "Hi"
    assert a._table is not None and b.decode_text(b"x") == "x"
    assert b._table is a._table and b._trans is a._trans
    # a ToUnicode or /Differences font builds its own, after 200 chars
    for name in ("tounicode", "differences"):
        font = get_font(_FONTS[name]())
        font.decode_text(b"ABC")
        assert font._table is None
        assert _graduated(name)._table is not a._table


def test_type1_header_encoding_is_not_shared():
    from pdfparse_spark.kernel.fonts import PDFType1Font

    font = get_font(_FONTS["standard"]())
    font.cid2unicode = dict(font.cid2unicode)  # as a FontFile header encoding sets it
    font.decode_text(b"A")
    assert font._table is None
    assert isinstance(font, PDFType1Font)
