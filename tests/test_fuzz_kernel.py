"""Property-based robustness: the lenient kernel must never raise or hang on
arbitrary input — one bad document cannot kill a 10^12-row job (SURVEY.md §4
strict/lenient note).  Uses hypothesis over raw bytes, corrupted fixture
bytes, and adversarial HTML."""

from __future__ import annotations

import base64

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pdfparse_spark.fixtures.pdf_gen import build_pdf_fixtures
from pdfparse_spark.kernel.extract import extract_pdf_bytes, extract_turn
from pdfparse_spark.kernel.html_extract import extract_html

_FX = build_pdf_fixtures()
_SETTINGS = dict(
    max_examples=60,
    deadline=2000,
    suppress_health_check=[HealthCheck.too_slow],
)


@given(st.binary(min_size=0, max_size=2048))
@settings(**_SETTINGS)
def test_extract_pdf_bytes_never_raises(data):
    text, spans, status = extract_pdf_bytes(b"%PDF-1.4\n" + data)
    assert isinstance(text, str)
    assert isinstance(status, str)


@given(st.integers(0, len(_FX) - 1), st.integers(0, 4000), st.binary(min_size=1, max_size=8))
@settings(**_SETTINGS)
def test_corrupted_fixture_never_raises(fi, pos, junk):
    """Splice junk into a VALID fixture — exercises deep parser states."""
    data = _FX[fi].data
    pos = pos % max(len(data), 1)
    mutated = data[:pos] + junk + data[pos + len(junk):]
    text, spans, status = extract_pdf_bytes(mutated)
    assert isinstance(text, str)
    for page, start, end in spans:
        assert 0 <= start <= end <= len(text)


@given(st.integers(0, len(_FX) - 1), st.integers(1, 4000))
@settings(**_SETTINGS)
def test_truncated_fixture_never_raises(fi, cut):
    data = _FX[fi].data
    text, spans, status = extract_pdf_bytes(data[: cut % len(data)])
    assert isinstance(status, str)


@given(st.text(max_size=1500))
@settings(**_SETTINGS)
def test_extract_turn_total_function(text):
    ctype, extracted, spans, status = extract_turn(text)
    assert ctype in ("pdf", "html", "text")
    assert isinstance(extracted, str)


@given(st.text(alphabet="<>abp/di v&#;x=' \n\"", max_size=800))
@settings(**_SETTINGS)
def test_html_extractor_never_raises(soup):
    out = extract_html("<html><body>" + soup)
    assert isinstance(out, str)


def test_pdfb64_garbage_padding():
    # invalid base64 after the marker must be a lenient error, not a crash
    ctype, text, spans, status = extract_turn("pdfb64:!!!not-base64!!!")
    assert ctype == "pdf"
    assert status.startswith("error:") or status == "ok"


def test_deeply_nested_arrays_no_recursion_error():
    body = b"%PDF-1.4\n" + b"[" * 20000 + b"]" * 20000
    text, spans, status = extract_pdf_bytes(body)
    assert isinstance(status, str)


def test_valid_fixture_after_fuzz_state_clean():
    """Module state must not leak across calls (worker-reuse safety)."""
    fx = _FX[0]
    before = extract_turn("pdfb64:" + base64.b64encode(fx.data).decode())
    extract_pdf_bytes(b"%PDF-1.4\n\xff\xfe garbage")
    after = extract_turn("pdfb64:" + base64.b64encode(fx.data).decode())
    assert before == after


def test_shifted_xref_offset_is_lenient_like_reference():
    """A few-bytes-wrong xref offset resyncs forward to the next 'obj'
    keyword without objid verification — the reference's exact semantics
    (pdfparse.lisp:1600-1610): possibly wrong object, never a crash."""
    import re

    fx = _FX[0]  # pdf_min_uncompressed (classic xref table)
    m = re.search(rb"xref\n0 \d+\n", fx.data)
    bad = bytearray(fx.data)
    entry = m.end() + 20 * 3  # offset line of object 3 (the /Page)
    off = int(bad[entry : entry + 10]) + 3
    bad[entry : entry + 10] = b"%010d" % off
    text, spans, status = extract_pdf_bytes(bytes(bad))
    assert isinstance(text, str)
    assert isinstance(status, str)


def _build_classic(bodies, root=1):
    out = bytearray(b"%PDF-1.4\n")
    offs = {}
    for i in sorted(bodies):
        offs[i] = len(out)
        out += b"%d 0 obj\n" % i + bodies[i] + b"\nendobj\n"
    xp = len(out)
    mx = max(bodies)
    out += b"xref\n0 %d\n" % (mx + 1) + b"0000000000 65535 f \n"
    for i in range(1, mx + 1):
        out += b"%010d 00000 n \n" % offs.get(i, 0)
    out += b"trailer\n<< /Size %d /Root %d 0 R >>\nstartxref\n%d\n%%%%EOF\n" % (
        mx + 1, root, xp,
    )
    return bytes(out)


def test_reference_cycles_do_not_hang():
    """ref→ref cycles must resolve leniently (depth cap), never spin —
    one adversarial doc cannot pin an executor (pdftypes.resolve1)."""
    r = extract_pdf_bytes(_build_classic({1: b"2 0 R", 2: b"1 0 R"}))
    assert r[2] == "ok" and r[0] == ""
    r = extract_pdf_bytes(
        _build_classic({1: b"<< /Type /Catalog /Pages 2 0 R >>", 2: b"3 0 R", 3: b"2 0 R"})
    )
    assert isinstance(r[2], str)


def test_ref_chained_contents_still_resolve():
    from pdfparse_spark.fixtures.pdf_gen import _assemble, _doc_skeleton, _stream

    content = b"BT /F1 12 Tf 72 720 Td (ChainOK) Tj ET"
    bodies = _doc_skeleton(b"x")
    bodies[5] = b"6 0 R"
    bodies[6] = _stream(b"", content)
    text, spans, status = extract_pdf_bytes(_assemble(bodies))
    assert (text, status) == ("\nChainOK", "ok")


def test_cmap_range_bombs_skipped():
    """A <00000000>-<ffffffff> bfrange/cidrange would expand to 4G entries;
    bomb ranges are skipped leniently, legit ranges still map."""
    from pdfparse_spark.kernel.fonts import CMapParser, FileCMap, FileUnicodeMap

    u = FileUnicodeMap()
    CMapParser(
        u,
        b"begincmap 1 beginbfrange <00000000> <ffffffff> <0041> endbfrange "
        b"1 beginbfrange <20> <22> <0041> endbfrange endcmap",
    ).run()
    assert u.get_unichr(0x21) == "B"
    c = FileCMap()
    CMapParser(
        c, b"begincmap 1 begincidrange <00000000> <ffffffff> 0 endcidrange endcmap"
    ).run()


def test_xref_prev_self_loop_is_bounded():
    """/Prev pointing back at its own xref section must terminate."""
    fx = _FX[0]
    # append an incremental update whose trailer /Prev points at itself
    data = fx.data
    xref_pos = len(data)
    upd = b"xref\n0 1\n0000000000 65535 f \ntrailer\n<< /Size 1 /Root 1 0 R /Prev %d >>\nstartxref\n%d\n%%%%EOF\n" % (
        xref_pos, xref_pos,
    )
    text, spans, status = extract_pdf_bytes(data + upd)
    assert isinstance(status, str)


def test_flate_bomb_capped():
    """A ~1 MB stream inflating to 1 GB must fail fast with a bomb error,
    not decompress + tokenize gigabytes (pdftypes.MAX_DECODED_STREAM)."""
    import zlib

    from pdfparse_spark.fixtures.pdf_gen import _assemble

    bomb = zlib.compress(b"\0" * (1 << 30), 9)
    bodies = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
           b"/Resources << /Font << /F1 4 0 R >> >> /Contents 5 0 R >>",
        4: b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        5: b"<< /Filter /FlateDecode /Length %d >>\nstream\n%s\nendstream" % (len(bomb), bomb),
    }
    text, spans, status = extract_pdf_bytes(_assemble(bodies))
    assert status == "error:PDFStreamBombError"


def test_mutually_recursive_forms_bounded():
    """Form A invoking B twice and vice versa branches exponentially without
    a shared invocation budget; must finish with the page text intact."""
    from pdfparse_spark.fixtures.pdf_gen import _assemble, _stream

    res = b"<< /Font << /F1 4 0 R >> /XObject << /XA 6 0 R /XB 7 0 R >> >>"
    bodies = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
           b"/Resources %s /Contents 5 0 R >>" % res,
        4: b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        5: _stream(b"", b"BT /F1 9 Tf 5 5 Td (x) Tj ET /XA Do"),
        6: _stream(b"/Type /XObject /Subtype /Form /BBox [0 0 1 1] /Resources %s" % res,
                   b"/XB Do /XB Do"),
        7: _stream(b"/Type /XObject /Subtype /Form /BBox [0 0 1 1] /Resources %s" % res,
                   b"/XA Do /XA Do"),
    }
    text, spans, status = extract_pdf_bytes(_assemble(bodies))
    assert status == "ok"
    assert text.startswith("\nx")


def test_deep_page_tree_iterative_walk():
    """A 5000-deep /Pages chain must extract fine (explicit-stack DFS),
    not die on the Python recursion limit."""
    from pdfparse_spark.fixtures.pdf_gen import _assemble, _stream

    bodies = {1: b"<< /Type /Catalog /Pages 2 0 R >>"}
    depth = 5000
    for i in range(depth):
        kid = 3 + i if i < depth - 1 else 9000
        bodies[2 + i] = b"<< /Type /Pages /Kids [%d 0 R] /Count 1 >>" % kid
    bodies[9000] = (
        b"<< /Type /Page /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 9001 0 R >> >> /Contents 9002 0 R >>"
    )
    bodies[9001] = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    bodies[9002] = _stream(b"", b"BT /F1 9 Tf 5 5 Td (deep) Tj ET")
    text, spans, status = extract_pdf_bytes(_assemble(bodies))
    assert status == "ok"
    assert text == "\ndeep"


def _xrefstream_doc(selfref=False, giant_w=False):
    """PDF-1.5 doc with catalog..font in an ObjStm; knobs forge the xref:
    selfref → the ObjStm's own entry claims it lives inside itself;
    giant_w → /W declares a 2-megabyte middle field."""
    import zlib

    from pdfparse_spark.fixtures.pdf_gen import _flate_stream, _png_up_encode, _stream

    content = b"BT /F1 12 Tf 72 720 Td (X) Tj ET"
    objstm_objs = [
        (1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        (2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
        (3, b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 4 0 R >> >> /Contents 5 0 R >>"),
        (4, b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"),
    ]
    payload = bytearray()
    header = bytearray()
    for objid, body in objstm_objs:
        header += b"%d %d " % (objid, len(payload))
        payload += body + b"\n"
    first = len(header)
    out = bytearray(b"%PDF-1.5\n")
    offsets = {5: len(out)}
    out += b"5 0 obj\n" + _stream(b"", content) + b"\nendobj\n"
    offsets[6] = len(out)
    out += b"6 0 obj\n" + _flate_stream(
        b"/Type /ObjStm /N %d /First %d" % (len(objstm_objs), first),
        bytes(header) + bytes(payload),
    ) + b"\nendobj\n"
    xref_pos = len(out)
    rows = [bytes([0, 0, 0, 255])]
    for idx in range(4):
        rows.append(bytes([2, 0, 6, idx]))
    rows.append(bytes([1]) + offsets[5].to_bytes(2, "big") + bytes([0]))
    if selfref:
        rows.append(bytes([2, 0, 6, 0]))
    else:
        rows.append(bytes([1]) + offsets[6].to_bytes(2, "big") + bytes([0]))
    rows.append(bytes([1]) + xref_pos.to_bytes(2, "big") + bytes([0]))
    w = b"[1 2000000 1]" if giant_w else b"[1 2 1]"
    xref_data = zlib.compress(_png_up_encode(rows))
    out += (b"7 0 obj\n<< /Type /XRef /Size 8 /W " + w + b" /Root 1 0 R "
            b"/Filter /FlateDecode /DecodeParms << /Predictor 12 /Columns 4 >> "
            b"/Length %d >>\nstream\n" % len(xref_data))
    out += xref_data + b"\nendstream\nendobj\n"
    out += b"startxref\n%d\n%%%%EOF\n" % xref_pos
    return bytes(out)


def test_objstm_self_containment_is_lenient():
    """An ObjStm whose xref entry points into itself must degrade leniently
    (cycle guard in _getobj_objstm resolves the container to missing →
    no catalog → zero pages), not unwind a RecursionError."""
    text, spans, status = extract_pdf_bytes(_xrefstream_doc(selfref=True))
    assert status == "ok" and text == ""


def test_indirect_index_w_falls_back():
    """An xref stream whose /W (or /Index) is an indirect reference must
    route to the brute-force fallback scan (PDFNoValidXRef), not escape
    with a TypeError — indirect refs are unresolvable DURING xref load."""
    data = _xrefstream_doc()
    assert data.count(b"/W [1 2 1]") == 1
    bad = data.replace(b"/W [1 2 1]", b"/W 9 0 R  ")  # equal length: offsets intact
    text, spans, status = extract_pdf_bytes(bad)
    # the document degrades through the LENIENT machinery (fallback scan /
    # PS-error statuses) — the pin is that no TypeError crashes the turn
    assert status == "ok" or status.startswith("error:PS") or status.startswith(
        "error:PDF"
    ), status
    assert status != "error:TypeError"""


def test_giant_xref_w_is_bounded():
    """A forged /W of [1 2000000 1] must not allocate per-entry gigabytes;
    the doc degrades leniently (fallback scan finds no catalog → no pages)."""
    text, spans, status = extract_pdf_bytes(_xrefstream_doc(giant_w=True))
    assert status == "ok" and text == ""


def test_corrupted_owner_hash_rejected():
    """Corrupting /O changes the derived key, so the /U check must fail →
    lenient PDFEncryptionError (R2 handler; /U corruption is pinned by the
    verify recipe probes)."""
    from pdfparse_spark.fixtures.pdf_gen import fx_rc4_encrypted

    data = fx_rc4_encrypted().data
    k = data.find(b"/O <") + 4
    bad = data[:k] + (b"00" if data[k : k + 2] != b"00" else b"ff") + data[k + 2 :]
    text, spans, status = extract_pdf_bytes(bad)
    assert status == "error:PDFEncryptionError"


def test_fuzz_split_merge_parity_on_corrupted_pdfs():
    """Randomized corruption sweep (truncations, byte flips, deletions):
    wherever the probe can count pages, per-page split extraction must be
    byte-identical to whole-doc extraction — including error statuses.
    Probe failures route to the whole-doc path (as run_extraction_split
    does), so they are parity-exempt by construction."""
    import base64
    import random

    from pdfparse_spark.fixtures.pdf_gen import build_pdf_fixtures, make_big_pdf
    from pdfparse_spark.kernel.extract import (
        extract_pdf_segment, extract_turn, merge_pdf_segments, probe_pdf_pages_validated)

    rng = random.Random(1234)
    fixtures = [fx.data for fx in build_pdf_fixtures()[:8]]
    fixtures += [make_big_pdf(6, 8, seed=s).data for s in range(2)]
    checked = 0
    for data in fixtures:
        variants = [data]
        for _ in range(12):
            v = bytearray(data)
            op = rng.randrange(3)
            if op == 0 and len(v) > 10:
                v = v[: rng.randrange(1, len(v))]
            elif op == 1:
                for _ in range(rng.randint(1, 8)):
                    v[rng.randrange(len(v))] = rng.randrange(256)
            else:
                a = rng.randrange(len(v))
                del v[a:min(len(v), a + rng.randint(1, 200))]
            variants.append(bytes(v))
        for v in variants:
            t = "pdfb64:" + base64.b64encode(v).decode()
            _, text, spans, status = extract_turn(t)
            n = probe_pdf_pages_validated(t)[0]
            if n <= 0:
                continue  # planner uses the whole-doc path for these
            for pps in (1, 3):
                segs = [extract_pdf_segment(t, a, a + pps) for a in range(1, n + 1, pps)]
                assert merge_pdf_segments(segs) == (
                    text, [tuple(s) for s in spans], status
                ), (len(v), pps, status)
                checked += 1
    assert checked > 50


def test_encrypted_object_cache_returns_plaintext():
    """Repeated getobj of the same encrypted object must return identical
    PLAINTEXT: the cache holds post-decipher objects (a pre-decipher cache
    returned RC4 ciphertext on every hit after the first)."""
    from pdfparse_spark.fixtures.pdf_gen import fx_rc4_encrypted
    from pdfparse_spark.kernel.pdfdocument import PDFDocument
    from pdfparse_spark.kernel.pdfparser import PDFParser

    doc = PDFDocument()
    parser = PDFParser(fx_rc4_encrypted().data)
    parser.set_document(doc)
    doc.set_parser(parser)
    doc.initialize()
    # object 7 is the fixture's encrypted indirect string
    assert doc.getobj(7) == b"Top Secret Title"
    assert doc.getobj(7) == b"Top Secret Title"  # cache hit: still plaintext
    # and first-fetch/cache-hit equality for every object in the doc
    for xref in doc.xrefs:
        for objid in getattr(xref, "offsets", {}):
            first = doc.getobj(objid)
            again = doc.getobj(objid)
            assert type(first) is type(again)
            if isinstance(first, (bytes, list)):
                assert first == again, objid


def test_malformed_dict_array_key_is_lenient():
    """A << >> whose key position holds an array/dict (unhashable) must
    degrade leniently, not abort the document with error:TypeError."""
    import base64

    from pdfparse_spark.fixtures.pdf_gen import build_pdf_fixtures
    from pdfparse_spark.kernel.extract import extract_turn

    fx = build_pdf_fixtures()[0].data
    bad = fx.replace(b"endobj", b"endobj\n99 0 obj << [1 2] 3 /X 7 >> endobj", 1)
    ctype, text, spans, status = extract_turn(
        "pdfb64:" + base64.b64encode(bad).decode()
    )
    assert status == "ok" and text == "\nHello World"


def test_malformed_textstate_operands_all_devices():
    """Bare/garbage Tc/Tw/Tz/Tf-size operands must fall back to textstate
    defaults on EVERY layout device — unguarded None/PSLiteral values
    crash the advance device's arithmetic turns later."""
    import base64

    from pdfparse_spark.fixtures.pdf_gen import _assemble, _doc_skeleton
    from pdfparse_spark.kernel.extract import extract_turn, get_device_factory

    content = b"BT /F1 /X Tf Tz Tc Tw 72 720 Td (guarded ops here) Tj ET"
    # /X is an undefined font id -> Tf raises PDFInterpreterError; use a
    # defined font with a garbage size instead
    content = b"BT /F1 (big) Tf Tz Tc Tw 72 720 Td (guarded ops here) Tj ET"
    data = _assemble(_doc_skeleton(content))
    turn = "pdfb64:" + base64.b64encode(data).decode()
    for dev in ("simple", "advance", "column"):
        ctype, text, spans, status = extract_turn(turn, get_device_factory(dev))
        assert status == "ok", (dev, status)
        assert "guarded ops here" in text, (dev, text)
