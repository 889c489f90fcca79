"""Tokenizer goldens ported verbatim from the reference's own embedded tests
(+TESTDATA+/+TOKENS+/+objs+, /root/reference/pdfparse.lisp:691-743), per
SURVEY.md §5.1.  Positions are byte offsets.
"""

import base64

from pdfparse_spark.fixtures.pdf_gen import _assemble, _doc_skeleton
from pdfparse_spark.kernel.extract import extract_turn
from pdfparse_spark.kernel.psparse import (
    KWD,
    LIT,
    PSEOF,
    PSBaseParser,
    PSStackParser,
)

TESTDATA = (
    b"%!PS\n"
    b"begin end\n"
    b' "  @ #\n'
    b"/a/BCD /Some_Name /foo#5f#xbaa\n"
    b"0 +1 -2 .5 1.234\n"
    b"(abc) () (abc ( def ) ghi)\n"
    b"(def\\040\\0\\0404ghi) (bach\\\\slask) (foo\\nbaa)\n"
    b"(this % is not a comment.)\n"
    b"(foo\nbaa)\n"
    b"(foo\\\nbaa)\n"
    b"<> <20> < 40 4020 >\n"
    b"<abcd00\n12345>\n"
    b"func/a/b{(c)do*}def\n"
    b"[ 1 (z) ! ]\n"
    b"<< /foo (bar) >>\n"
)

TOKENS = [
    (5, KWD("begin")),
    (11, KWD("end")),
    (16, KWD('"')),
    (19, KWD("@")),
    (21, KWD("#")),
    (23, LIT("a")),
    (25, LIT("BCD")),
    (30, LIT("Some_Name")),
    (41, LIT("foo_xbaa")),
    (54, 0),
    (56, 1),
    (59, -2),
    (62, 0.5),
    (65, 1.234),
    (71, b"abc"),
    (77, b""),
    (80, b"abc ( def ) ghi"),
    (98, b"def \x00 4ghi"),
    (118, b"bach\\slask"),
    (132, b"foo\nbaa"),
    (143, b"this % is not a comment."),
    (170, b"foo\nbaa"),
    (180, b"foobaa"),
    (191, b""),
    (194, b" "),
    (199, b"@@ "),
    (211, b"\xab\xcd\x00\x124\x05"),
    (226, KWD("func")),
    (230, LIT("a")),
    (232, LIT("b")),
    (234, KWD("{")),
    (235, b"c"),
    (238, KWD("do*")),
    (241, KWD("}")),
    (242, KWD("def")),
    (246, KWD("[")),
    (248, 1),
    (250, b"z"),
    (254, KWD("!")),
    (256, KWD("]")),
    (258, KWD("<<")),
    (261, LIT("foo")),
    (266, b"bar"),
    (272, KWD(">>")),
]

OBJS = [
    (23, LIT("a")),
    (25, LIT("BCD")),
    (30, LIT("Some_Name")),
    (41, LIT("foo_xbaa")),
    (54, 0),
    (56, 1),
    (59, -2),
    (62, 0.5),
    (65, 1.234),
    (71, b"abc"),
    (77, b""),
    (80, b"abc ( def ) ghi"),
    (98, b"def \x00 4ghi"),
    (118, b"bach\\slask"),
    (132, b"foo\nbaa"),
    (143, b"this % is not a comment."),
    (170, b"foo\nbaa"),
    (180, b"foobaa"),
    (191, b""),
    (194, b" "),
    (199, b"@@ "),
    (211, b"\xab\xcd\x00\x124\x05"),
    (230, LIT("a")),
    (232, LIT("b")),
    (234, [b"c"]),
    (246, [1, b"z"]),
    (258, {LIT("foo"): b"bar"}),
]


def get_tokens(data: bytes):
    parser = PSBaseParser(data)
    out = []
    while True:
        try:
            out.append(parser.nexttoken())
        except PSEOF:
            return out


class FlushingStackParser(PSStackParser):
    """Mirrors the reference test harness's my-parser (pdfparse.lisp:774-779)."""

    def flush(self):
        self.add_results(*self.popall())


def get_objects(data: bytes):
    parser = FlushingStackParser(data)
    out = []
    while True:
        try:
            out.append(parser.nextobject())
        except PSEOF:
            return out


def test_tokens_golden():
    assert get_tokens(TESTDATA) == TOKENS


def test_objects_golden():
    assert get_objects(TESTDATA) == OBJS


def test_false_parses_to_boolean():
    # documented deviation (SURVEY.md §5.2): the reference never parses false
    assert get_tokens(b"true false null") == [
        (0, True),
        (5, False),
        (11, KWD("null")),
    ]


def test_dict_end_after_hexstring():
    # '<20>>' = hexstring then a lone '>' swallowed tokenlessly... except the
    # main dispatch sees '>>' and emits dict-end (reference %parse-wclose).
    toks = get_tokens(b"<20>>")
    assert toks == [(0, b" "), (3, KWD(">>"))]


def test_literal_hex_escapes():
    assert get_tokens(b"/A#42C") == [(0, LIT("ABC"))]
    # non-hex after '#' with no digits: '#' contributes nothing
    assert get_tokens(b"/foo#zz") == [(0, LIT("foozz"))]


def test_string_escape_edge_cases():
    # 3-digit octal then digit; named escapes; dropped unknown escape
    assert get_tokens(b"(\\0533)") == [(0, b"+3")]
    assert get_tokens(b"(a\\qb)") == [(0, b"ab")]
    assert get_tokens(b"(\\t\\b\\f)") == [(0, b"\t\x08\x0c")]


def test_number_edge_cases():
    toks = get_tokens(b"16 -5 3.14 .5 1. 007")
    assert toks == [(0, 16), (3, -5), (6, 3.14), (11, 0.5), (14, 1.0), (17, 7)]
    # unparseable numbers are dropped; a long run of them must not recurse
    assert get_tokens(b"- + . -. " * 1500 + b"9") == [(13500, 9)]
    content = b"BT /F1 12 Tf 72 720 Td (Hello) Tj " + b"- " * 3000 + b"(World) Tj ET"
    data = _assemble(_doc_skeleton(content))
    assert extract_turn("pdfb64:" + base64.b64encode(data).decode()) == (
        "pdf", "\nHelloWorld", [(1, 0, 11)], "ok"
    )


def test_octal_escape_overflow_wraps():
    """\\777 in a literal string is byte 0xFF: PDF 32000 7.3.4.2 says the
    high-order overflow shall be ignored.  (Deviates from the reference,
    which builds (code-char 511) into its 8-bit string — pdfparse.lisp:480;
    recorded in SURVEY.md §5.2.)  Found by extended differential fuzz:
    unwrapped it raised an uncaught ValueError."""
    assert [o for _, o in get_objects(rb"(\777)")] == [b"\xff"]
    assert [o for _, o in get_objects(rb"(\400a)")] == [b"\x00a"]
    assert [o for _, o in get_objects(rb"(\377)")] == [b"\xff"]
