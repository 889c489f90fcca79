"""End-to-end kernel goldens over the synthetic PDF + HTML fixture corpus
(FIXTURES.md §2/§3, SURVEY.md §5.2 levels 2-3)."""

import pytest

from pdfparse_spark.fixtures.pdf_gen import build_pdf_fixtures
from pdfparse_spark.fixtures.html_gen import build_html_fixtures
from pdfparse_spark.kernel.extract import (
    classify_text,
    extract_pdf_bytes,
    extract_turn,
)
from pdfparse_spark.kernel.html_extract import extract_html

PDF_FIXTURES = build_pdf_fixtures()
HTML_FIXTURES = build_html_fixtures()


@pytest.mark.parametrize("fx", PDF_FIXTURES, ids=lambda f: f.name)
def test_pdf_fixture_golden(fx):
    text, spans, status = extract_pdf_bytes(fx.data)
    assert status == fx.golden_status
    assert text == fx.golden_text
    assert spans == fx.golden_spans


@pytest.mark.parametrize("fx", PDF_FIXTURES, ids=lambda f: f.name)
def test_pdf_fixture_deterministic(fx):
    a = extract_pdf_bytes(fx.data)
    b = extract_pdf_bytes(fx.data)
    assert a == b


@pytest.mark.parametrize("fx", HTML_FIXTURES, ids=lambda f: f.name)
def test_html_fixture_golden(fx):
    assert extract_html(fx.html) == fx.golden_text


def test_html_policy_pins():
    gold = {f.name: f.golden_text for f in HTML_FIXTURES}
    # nav-heavy: the link farm is dropped, the long paragraph survives
    assert "First link" not in gold["html_nav_heavy"]
    assert gold["html_nav_heavy"].startswith("This single long paragraph")
    # boilerplate containers dropped
    assert "Site Banner" not in gold["html_article"]
    assert "Copyright" not in gold["html_article"]
    assert "Sidebar" not in gold["html_article"]
    assert gold["html_article"].count("\n") == 11  # 12 paragraphs
    # pre preserved verbatim
    assert "def f(x):\n    return x + 1  # exact" in gold["html_tables_code"]
    # script/style/comment/noscript gone
    assert gold["html_comments_scripts"] == (
        "Only this visible paragraph should survive the stripping pass."
    )
    # entities decoded
    assert "&" in gold["html_entities"] and "&amp;" not in gold["html_entities"]
    assert "—" in gold["html_entities"] and "£" in gold["html_entities"]


def test_classify():
    assert classify_text("%PDF-1.4 ...") == "pdf"
    assert classify_text("pdfb64:JVBERi0=") == "pdf"
    assert classify_text("<!DOCTYPE html><html></html>") == "html"
    assert classify_text("  <div>hello</div>") == "html"
    assert classify_text("plain old text < 5") == "text"
    assert classify_text("") == "text"


def test_extract_turn_routing():
    import base64

    fx = PDF_FIXTURES[0]
    turn = "pdfb64:" + base64.b64encode(fx.data).decode("ascii")
    ctype, text, spans, status = extract_turn(turn)
    assert (ctype, status) == ("pdf", "ok")
    assert text == fx.golden_text
    assert spans == fx.golden_spans

    hfx = HTML_FIXTURES[0]
    ctype, text, spans, status = extract_turn(hfx.html)
    assert (ctype, status) == ("html", "ok")
    assert text == hfx.golden_text

    ctype, text, spans, status = extract_turn("just words")
    assert (ctype, text, status) == ("text", "just words", "ok")


def test_extract_turn_never_raises_on_garbage():
    for bad in ["%PDF-1.4 garbage", "pdfb64:!!!not-base64", "%PDF-", "<html>"]:
        ctype, text, spans, status = extract_turn(bad)
        assert isinstance(text, str)
        assert isinstance(status, str)


def test_unsupported_filter_status():
    fx = {f.name: f for f in PDF_FIXTURES}["pdf_unsupported_filter"]
    _, _, status = extract_pdf_bytes(fx.data)
    assert status == "unsupported_filter"


def test_big_pdf_generator_golden():
    """make_big_pdf goldens: exact text + per-page spans at several shapes."""
    import base64

    from pdfparse_spark.fixtures.pdf_gen import make_big_pdf
    from pdfparse_spark.kernel.extract import extract_turn

    for pages, lines in ((1, 3), (3, 10), (20, 40)):
        fx = make_big_pdf(pages, lines, seed=pages)
        ct, text, spans, status = extract_turn(
            "pdfb64:" + base64.b64encode(fx.data).decode()
        )
        assert (ct, status) == ("pdf", "ok")
        assert text == fx.golden_text
        assert [tuple(s) for s in spans] == fx.golden_spans
        assert len(spans) == pages


@pytest.mark.parametrize("length", [b"-20", b"-1 ", b"000", b"109"])
def test_negative_stream_length_reads_to_endstream(length):
    """A negative /Length counts as 0 (the data runs to endstream, as for
    any wrong /Length) instead of seeking back into the 'stream' line and
    failing the document."""
    from pdfparse_spark.fixtures.pdf_gen import make_big_pdf

    fx = make_big_pdf(2, 3, seed=1)
    assert b"/Length 109 " in fx.data
    data = fx.data.replace(b"/Length 109 ", b"/Length " + length + b" ", 1)
    assert extract_pdf_bytes(data) == (fx.golden_text, fx.golden_spans, "ok")


def test_text_state_ops_no_output_effect():
    """Tc/Tw/Tz/Ts/Tr mutate text state but not the simple device's output
    (simple-device.lisp only reads matrix f); Td with |ty| <= 3 must not
    newline, TD sets leading, Tm replaces the matrix outright."""
    from pdfparse_spark.kernel.device import SimpleTextDevice
    from pdfparse_spark.kernel.interp import process_pdf
    from pdfparse_spark.fixtures.pdf_gen import _assemble, _doc_skeleton

    def run(content: bytes) -> str:
        device = SimpleTextDevice()
        process_pdf(device, _assemble(_doc_skeleton(content)))
        return device.get_text()

    base = run(b"BT /F1 12 Tf 72 720 Td (AB) Tj ET")
    noisy = run(
        b"BT /F1 12 Tf 2 Tc 1.5 Tw 80 Tz 3 Ts 1 Tr 72 720 Td (AB) Tj ET"
    )
    assert base == noisy == "\nAB"
    # small rise via Td: |dy| <= 3 → same line (superscript case)
    sup = run(b"BT /F1 12 Tf 72 720 Td (A) Tj 0 3 Td (B) Tj 0 -3 Td (C) Tj ET")
    assert sup == "\nABC"
    # Tm replaces the matrix: jump > 3 → newline
    tm = run(b"BT /F1 12 Tf 1 0 0 1 72 720 Tm (A) Tj 1 0 0 1 72 600 Tm (B) Tj ET")
    assert tm == "\nA\nB"
    # TD sets leading to -ty, then T* advances by it
    td = run(b"BT /F1 12 Tf 72 720 Td (A) Tj 0 -14 TD (B) Tj T* (C) Tj ET")
    assert td == "\nA\nB\nC"


def test_type3_font_with_differences():
    """Type3 font (pdfparse.lisp:3517-3548): decoding goes through the
    /Encoding Differences → glyph-name → unicode simple-font path; the
    CharProcs streams are never executed (matches the reference's simple
    device, which only needs the decoded characters)."""
    from pdfparse_spark.fixtures.pdf_gen import _assemble, _stream
    from pdfparse_spark.kernel.extract import extract_pdf_bytes

    bodies = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
           b"/Resources << /Font << /F3 4 0 R >> >> /Contents 6 0 R >>",
        4: b"<< /Type /Font /Subtype /Type3 /FontBBox [0 0 1000 1000] "
           b"/FontMatrix [0.001 0 0 0.001 0 0] /FirstChar 97 /LastChar 99 "
           b"/Widths [500 500 500] /CharProcs << /a 5 0 R >> "
           b"/Encoding << /Type /Encoding /Differences [97 /a /b /c] >> >>",
        5: _stream(b"", b"500 0 d0"),
        6: _stream(b"", b"BT /F3 12 Tf 72 720 Td (abc) Tj ET"),
    }
    text, spans, status = extract_pdf_bytes(_assemble(bodies))
    assert (text, status) == ("\nabc", "ok")
    assert spans == [(1, 0, 4)]


def test_decode_text_pdfdoc_and_utf16():
    """decode-text parity (pdfparse.lisp:1994-2005): BOM → UTF-16BE,
    else PDFDocEncoding byte map (0x90 → right single quote, 0x92 → ™,
    0xA0 → euro; unmapped slots → NUL like the reference's zero-filled
    table)."""
    from pdfparse_spark.kernel.encodings import decode_text

    assert decode_text(b"Hello") == "Hello"
    assert decode_text(b"\xfe\xff\x00H\x00i\x26\x03") == "Hi☃"
    assert decode_text(b"\x90\x92\xa0") == "’™€"
    assert decode_text(b"\x7f") == "\x00"  # unmapped → NUL


def test_get_outlines_dfs_and_decode():
    """Outline tree DFS (reference get-outlines): node, then children,
    then siblings; UTF-16BE titles decoded; /A-only entries emitted (spec
    fix over the reference's dead string-key membership test, SURVEY
    §5.2); no /Outlines → PDFNoOutlines."""
    import pytest

    from pdfparse_spark.fixtures.pdf_gen import _assemble
    from pdfparse_spark.kernel.pdfdocument import PDFDocument, PDFNoOutlines
    from pdfparse_spark.kernel.pdfparser import PDFParser

    bodies = {
        1: b"<< /Type /Catalog /Pages 2 0 R /Outlines 4 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Resources << >> >>",
        4: b"<< /First 5 0 R /Last 7 0 R /Count 3 >>",
        5: b"<< /Title (Chapter 1) /Dest [3 0 R /Fit] /First 6 0 R /Last 6 0 R /Next 7 0 R >>",
        6: b"<< /Title <FEFF00A700200031> /Dest [3 0 R /Fit] >>",      # UTF-16BE: '§ 1'
        7: b"<< /Title (Actions) /A << /S /URI /URI (http://x) >> >>",  # /A-only entry
        8: b"<< /Title (No target) >>",                                 # never emitted
    }
    doc = PDFDocument()
    parser = PDFParser(_assemble(bodies))
    parser.set_document(doc)
    doc.set_parser(parser)
    titles = [t for (t, dest, a, se) in doc.get_outlines()]
    assert titles == ["Chapter 1", "§ 1", "Actions"]

    plain = {k: v for k, v in bodies.items() if k != 4}
    plain[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    doc2 = PDFDocument()
    p2 = PDFParser(_assemble(plain))
    p2.set_document(doc2)
    doc2.set_parser(p2)
    with pytest.raises(PDFNoOutlines):
        list(doc2.get_outlines())


def test_lookup_name_and_get_dest():
    """Name-tree lookup (/Names → /Dests with Limits pruning + Kids
    recursion, PDF 32000 §7.9.6) and the legacy catalog-/Dests fallback.
    Spec fix over the reference's lookup-name recorded in SURVEY §5.2."""
    import pytest

    from pdfparse_spark.fixtures.pdf_gen import _assemble
    from pdfparse_spark.kernel.pdfdocument import PDFDocument
    from pdfparse_spark.kernel.pdfparser import PDFParser

    bodies = {
        1: b"<< /Type /Catalog /Pages 2 0 R /Names << /Dests 4 0 R >> "
           b"/Dests << /legacy [3 0 R /Fit] >> >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Resources << >> >>",
        4: b"<< /Kids [5 0 R 6 0 R] >>",
        5: b"<< /Limits [(aaa) (mmm)] /Names [(aaa) [3 0 R /Fit] (ccc) [3 0 R /XYZ 0 0 0]] >>",
        6: b"<< /Limits [(nnn) (zzz)] /Names [(zzz) [3 0 R /FitH 5]] >>",
    }
    doc = PDFDocument()
    parser = PDFParser(_assemble(bodies))
    parser.set_document(doc)
    doc.set_parser(parser)

    from pdfparse_spark.kernel.pdftypes import LIT, list_value, resolve1

    assert list_value(resolve1(doc.lookup_name(LIT("Dests"), b"ccc")))[1] is LIT("XYZ")
    assert list_value(resolve1(doc.lookup_name(LIT("Dests"), b"zzz")))[1] is LIT("FitH")
    with pytest.raises(KeyError):
        doc.lookup_name(LIT("Dests"), b"qqq")  # inside no leaf, pruned by Limits
    # get_dest: name tree first, then the legacy catalog /Dests dict
    assert list_value(resolve1(doc.get_dest(b"aaa")))[1] is LIT("Fit")
    assert list_value(resolve1(doc.get_dest(b"legacy")))[1] is LIT("Fit")
    with pytest.raises(KeyError):
        doc.get_dest(b"absent")


def test_full_adobe_glyph_list():
    """The kernel ships the complete AGL (reference glyphlist.lisp:59 —
    4,281 entries), not just the Latin subset: Greek, math, dingbats,
    smallcaps, and multi-codepoint Hebrew presentation forms resolve."""
    from pdfparse_spark.kernel._agl_data import AGL
    from pdfparse_spark.kernel.encodings import name2unicode

    assert len(AGL) == 4281
    assert name2unicode("alpha") == "α"
    assert name2unicode("summation") == "∑"
    assert name2unicode("aleph") == "ℵ"
    assert name2unicode("Asmall") == "\uf761"  # smallcap private-use
    assert name2unicode("infinity") == "\u221e"
    assert name2unicode("dalethatafpatah") == "דֲ"  # multi-codepoint
    # uniXXXX / trailing-digit fallbacks still apply after the table miss
    assert name2unicode("uni0041") == "A"


def test_core14_afm_metrics():
    """Core-14 AFM data (reference metrics.lisp:31): real descriptors and
    advance widths, consumed by PDFType1Font when /Widths is absent."""
    from pdfparse_spark.kernel.fonts import PDFType1Font, get_font_metrics
    from pdfparse_spark.kernel.psparse import LIT

    desc, widths = get_font_metrics(LIT("Helvetica"))
    assert desc[LIT("FontName")] is LIT("Helvetica")
    assert desc[LIT("Ascent")] == 718.0 and desc[LIT("Descent")] == -207.0
    assert widths[65] == 667 and widths[32] == 278  # 'A', space
    mono = get_font_metrics("Courier-Bold")[1]
    assert set(mono.values()) == {600}  # fixed-pitch
    # subset-prefixed names resolve to the same table
    assert get_font_metrics("ABCDEF+Times-Roman")[1][65] == 722
    assert get_font_metrics("NoSuchFont") is None
    # the font object picks up AFM widths when the spec carries no /Widths
    font = PDFType1Font({LIT("BaseFont"): LIT("Helvetica")})
    assert font.widths[77] == 833  # 'M'


def test_lookup_name_cycle_and_depth_hardened():
    """A crafted /Kids cycle or a deep /Kids chain in the name tree must
    terminate (seen-set + explicit stack), matching the get_pages /
    get_outlines hardening — no RecursionError, no hang."""
    import pytest

    from pdfparse_spark.fixtures.pdf_gen import _assemble
    from pdfparse_spark.kernel.pdfdocument import PDFDocument
    from pdfparse_spark.kernel.pdfparser import PDFParser
    from pdfparse_spark.kernel.pdftypes import LIT, list_value, resolve1

    def make_doc(bodies):
        doc = PDFDocument()
        parser = PDFParser(_assemble(bodies))
        parser.set_document(doc)
        doc.set_parser(parser)
        return doc

    common = {
        1: b"<< /Type /Catalog /Pages 2 0 R /Names << /Dests 4 0 R >> >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Resources << >> >>",
    }
    # cycle: 4 -> 5 -> 4
    cyc = dict(common)
    cyc[4] = b"<< /Kids [5 0 R] >>"
    cyc[5] = b"<< /Kids [4 0 R] /Names [(hit) [3 0 R /Fit]] >>"
    doc = make_doc(cyc)
    assert list_value(resolve1(doc.lookup_name(LIT("Dests"), b"hit")))[1] is LIT("Fit")
    with pytest.raises(KeyError):
        doc.lookup_name(LIT("Dests"), b"absent")  # cycle must terminate

    # depth: a 5000-node /Kids chain with the leaf at the bottom
    deep = dict(common)
    n = 5000
    for i in range(n):
        objid = 4 + i
        if i < n - 1:
            deep[objid] = b"<< /Kids [%d 0 R] >>" % (objid + 1)
        else:
            deep[objid] = b"<< /Names [(deep) [3 0 R /Fit]] >>"
    doc = make_doc(deep)
    assert list_value(resolve1(doc.lookup_name(LIT("Dests"), b"deep")))[1] is LIT("Fit")


def test_split_merge_mid_doc_error_parity():
    """A corrupt page mid-document: split extraction must truncate exactly
    where whole-doc extraction stops (partial text kept, later segments
    dropped, same error status) at every segment size."""
    import base64

    from pdfparse_spark.fixtures.pdf_gen import _assemble, _stream
    from pdfparse_spark.kernel.extract import (
        extract_pdf_segment, extract_turn, merge_pdf_segments, probe_pdf_pages_validated)

    bodies = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R 5 0 R 7 0 R 9 0 R] /Count 4 >>",
        11: b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    }
    for i, page_id in enumerate((3, 5, 7, 9)):
        cid = page_id + 1
        bodies[page_id] = (
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 11 0 R >> >> /Contents %d 0 R >>" % cid
        )
        if page_id == 7:  # page 3: corrupt Flate stream -> error mid-doc
            bodies[cid] = b"<< /Filter /FlateDecode /Length 6 >>\nstream\nXXXXXX\nendstream"
        else:
            bodies[cid] = _stream(b"", b"BT /F1 12 Tf 72 720 Td (page %d text) Tj ET" % (i + 1))
    t = "pdfb64:" + base64.b64encode(_assemble(bodies)).decode()
    _, text, spans, status = extract_turn(t)
    assert status.startswith("error:") and text.endswith("page 2 text")
    n = probe_pdf_pages_validated(t)[0]
    for pps in (1, 2, 3):
        segs = [extract_pdf_segment(t, a, a + pps) for a in range(1, n + 1, pps)]
        assert merge_pdf_segments(segs) == (text, [tuple(s) for s in spans], status), pps


def test_fast_window_walk_parity_and_count_validation():
    """The /Count subtree-skipping window walk must yield byte-identical
    segments to the full walk on every validated fixture; a lying /Count
    must invalidate the fast path (probe returns counts_ok=False)."""
    import base64

    from pdfparse_spark.fixtures.pdf_gen import (
        _assemble, _stream, build_pdf_fixtures, make_big_pdf)
    from pdfparse_spark.kernel.extract import (
        extract_pdf_segment, merge_pdf_segments, probe_pdf_pages_validated)

    for fx in build_pdf_fixtures() + [make_big_pdf(12, 6, seed=3)]:
        t = "pdfb64:" + base64.b64encode(fx.data).decode()
        n, ok = probe_pdf_pages_validated(t)
        if n <= 0 or not ok:
            continue
        for pps in (1, 3):
            slow = merge_pdf_segments(
                [extract_pdf_segment(t, a, a + pps, fast=False) for a in range(1, n + 1, pps)])
            fast = merge_pdf_segments(
                [extract_pdf_segment(t, a, a + pps, fast=True) for a in range(1, n + 1, pps)])
            assert fast == slow, (fx.name, pps)

    lying = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R 5 0 R] /Count 7 >>",  # actual: 2
        3: b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
           b"/Resources << /Font << /F1 7 0 R >> >> /Contents 4 0 R >>",
        4: _stream(b"", b"BT /F1 12 Tf 72 720 Td (one) Tj ET"),
        5: b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
           b"/Resources << /Font << /F1 7 0 R >> >> /Contents 6 0 R >>",
        6: _stream(b"", b"BT /F1 12 Tf 72 500 Td (two) Tj ET"),
        7: b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    }
    t = "pdfb64:" + base64.b64encode(_assemble(lying)).decode()
    n, ok = probe_pdf_pages_validated(t)
    assert n == 2 and ok is False


def test_advance_device_word_spacing():
    """AdvanceTextDevice consumes real advance widths (AFM core-14) to
    synthesize the word spacing the golden policy omits: positioning gaps
    and wide TJ kerns become spaces; true kerning and exact continuations
    do not.  The golden device's output is untouched."""
    from pdfparse_spark.fixtures.pdf_gen import _assemble, _doc_skeleton
    from pdfparse_spark.kernel.device import AdvanceTextDevice
    from pdfparse_spark.kernel.extract import extract_pdf_bytes

    def run(content, device=None):
        data = _assemble(_doc_skeleton(content))
        if device is None:
            return extract_pdf_bytes(data)[0]
        return extract_pdf_bytes(data, device)[0]

    # Td gap past "Hello"'s AFM width (2278/1000 * 12pt = 27.34) → space
    gap = b"BT /F1 12 Tf 72 720 Td (Hello) Tj 33.4 0 Td (World) Tj ET"
    assert run(gap) == "\nHelloWorld"  # golden policy: no x awareness
    assert run(gap, AdvanceTextDevice) == "\nHello World"

    # TJ kerns: -500 em/1000 is a word gap; -80 is kerning
    kern = b"BT /F1 12 Tf 72 720 Td [(A) -500 (B) -80 (C)] TJ ET"
    assert run(kern) == "\nABC"
    assert run(kern, AdvanceTextDevice) == "\nA BC"

    # a run continuing exactly where the previous ended → no space
    cont = b"BT /F1 12 Tf 72 720 Td (Hel) Tj 19.3 0 Td (lo) Tj ET"
    assert run(cont, AdvanceTextDevice) == "\nHello"

    # rotated text matrix (a <= 0): x-gap detection disabled, no crash
    rot = (b"BT /F1 12 Tf 0 1 -1 0 72 720 Tm (Up) Tj "
           b"0 1 -1 0 100 720 Tm (More) Tj ET")
    assert run(rot, AdvanceTextDevice) == "\nUpMore"


def test_advance_device_only_adds_spaces():
    """Corpus-wide invariant: the advance device's output differs from the
    golden device's ONLY by inserted spaces (same glyphs, same newlines,
    same status) on every fixture."""
    from pdfparse_spark.fixtures.pdf_gen import build_pdf_fixtures, make_big_pdf
    from pdfparse_spark.kernel.device import AdvanceTextDevice
    from pdfparse_spark.kernel.extract import extract_pdf_bytes

    for fx in build_pdf_fixtures() + [make_big_pdf(6, 8, seed=2)]:
        g_text, _, g_status = extract_pdf_bytes(fx.data)
        a_text, _, a_status = extract_pdf_bytes(fx.data, AdvanceTextDevice)
        assert a_status == g_status, fx.name
        assert a_text.replace(" ", "") == g_text.replace(" ", ""), fx.name
        assert a_text.count("\n") == g_text.count("\n"), fx.name


def test_column_device_reading_order():
    """ColumnTextDevice re-orders interleaved two-column content into
    column-major reading order (left column top-down, then right); the
    golden device keeps raw content-stream order. Spans still partition
    the text per page."""
    from pdfparse_spark.fixtures.pdf_gen import _assemble, _doc_skeleton
    from pdfparse_spark.kernel.device import ColumnTextDevice
    from pdfparse_spark.kernel.extract import extract_pdf_bytes

    content = (b"BT /F1 12 Tf "
               b"72 700 Td (Left one) Tj "
               b"248 0 Td (Right one) Tj "
               b"-248 -20 Td (Left two) Tj "
               b"248 0 Td (Right two) Tj "
               b"ET")
    data = _assemble(_doc_skeleton(content))
    g_text, g_spans, g_status = extract_pdf_bytes(data)
    assert g_text == "\nLeft oneRight one\nLeft twoRight two"  # stream order
    c_text, c_spans, c_status = extract_pdf_bytes(data, ColumnTextDevice)
    assert c_status == g_status == "ok"
    assert c_text == "\nLeft one\nLeft two\nRight one\nRight two"
    assert c_spans == [(1, 0, len(c_text))]

    # single-column content: same line structure as the golden policy
    single = b"BT /F1 12 Tf 14 TL 72 720 Td (Line one) Tj T* (Line two) Tj ET"
    sdata = _assemble(_doc_skeleton(single))
    assert extract_pdf_bytes(sdata, ColumnTextDevice)[0] == extract_pdf_bytes(sdata)[0]


def _glyph_rule_doc() -> bytes:
    """A Helvetica page whose ToUnicode maps A to nothing (dropped) and B to
    Q; 0x01 and 0x02 are unmapped ("<CID x>"); 0xE9 is Oslash in
    StandardEncoding.  It renders 360 codes, past the 200 after which a
    single-byte font decodes through its translate table."""
    from pdfparse_spark.fixtures.pdf_gen import (
        _TOUNICODE_FOOTER, _TOUNICODE_HEADER, _assemble, _doc_skeleton, _stream)

    cmap = (_TOUNICODE_HEADER + b"2 beginbfchar\n<41> <>\n<42> <0051>\nendbfchar\n"
            + _TOUNICODE_FOOTER)
    font = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /ToUnicode 6 0 R >>"
    line = b"[(AB\x01Caf\xe9) -600 (x\x02B) 80 (A)] TJ 0 -14 Td (BA\x01) Tj 0 -14 Td "
    content = b"BT /F1 12 Tf 72 760 Td " + line * 30 + b"ET"
    return _assemble(_doc_skeleton(content, font_body=font, extra_objs={6: _stream(b"", cmap)}))


@pytest.mark.parametrize("doc, device, sha256, spans", [
    ("big", "AdvanceTextDevice",
     "14c617d8af9e12e4629c8b4888db90dcd8f98bcd5c3b3dcd2084f69734a969d1",
     [(1, 0, 722), (2, 722, 1444), (3, 1444, 2166)]),
    ("big", "ColumnTextDevice",
     "14c617d8af9e12e4629c8b4888db90dcd8f98bcd5c3b3dcd2084f69734a969d1",
     [(1, 0, 722), (2, 722, 1444), (3, 1444, 2166)]),
    ("glyph", "SimpleTextDevice",
     "020c403374a0d0b66a34664efcd77e0641c2a6dd1b38673de6ad3c71c91d1991", [(1, 0, 930)]),
    ("glyph", "AdvanceTextDevice",
     "87f89b1a64e966dc4b7a50fcaad320687a19e81275f1fa2e7f4b19f169283bf5", [(1, 0, 960)]),
    ("glyph", "ColumnTextDevice",
     "020c403374a0d0b66a34664efcd77e0641c2a6dd1b38673de6ad3c71c91d1991", [(1, 0, 930)]),
])
def test_devices_pinned_past_the_translate_threshold(doc, device, sha256, spans):
    """Every device decodes glyphs through the font's one rule; these
    documents render well past 200 codes per font, so the shared translate
    table serves most of them.  Hashes of the text each device gave before
    the rule moved into the font."""
    import hashlib

    from pdfparse_spark.fixtures.pdf_gen import make_big_pdf
    from pdfparse_spark.kernel import device as devices
    from pdfparse_spark.kernel.extract import extract_pdf_bytes

    data = make_big_pdf(3, 12, seed=4).data if doc == "big" else _glyph_rule_doc()
    text, got_spans, status = extract_pdf_bytes(data, getattr(devices, device))
    assert status == "ok"
    assert got_spans == spans
    assert hashlib.sha256(text.encode()).hexdigest() == sha256


def test_names_cycle_fixture_end_to_end():
    """The pdf_names_cycle FIXTURE (a whole file, opened through the normal
    parser/xref path — not a hand-wired document) extracts its page text
    normally AND resolves/misses named destinations without looping on the
    crafted /Kids cycle."""
    import pytest

    from pdfparse_spark.fixtures.pdf_gen import build_pdf_fixtures
    from pdfparse_spark.kernel.extract import extract_pdf_bytes
    from pdfparse_spark.kernel.pdfdocument import PDFDocument
    from pdfparse_spark.kernel.pdfparser import PDFParser
    from pdfparse_spark.kernel.pdftypes import LIT, list_value, resolve1

    fx = next(f for f in build_pdf_fixtures() if f.name == "pdf_names_cycle")
    text, spans, status = extract_pdf_bytes(fx.data)
    assert (text, status) == (fx.golden_text, "ok")

    doc = PDFDocument()
    parser = PDFParser(fx.data)
    parser.set_document(doc)
    doc.set_parser(parser)
    assert list_value(resolve1(doc.get_dest(b"hit")))[1] is LIT("Fit")
    with pytest.raises(KeyError):
        doc.get_dest(b"absent")
