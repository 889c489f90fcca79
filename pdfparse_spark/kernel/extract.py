"""Turn-level extraction kernel: classify → route → extract.

This is the function applied per transcript turn inside the Spark
``mapInArrow`` stage (SURVEY.md §2 P8/R12).  Pure Python, no Spark imports:
unit-testable standalone, shipped to executors via --py-files.

Contract (BASELINE.json input_hint):
    extract_turn(text: str) -> (content_type, extracted_text, spans, status)
where spans is a list of (page:int, char_start:int, char_end:int) into
extracted_text and status is "ok" | "unsupported_filter" | "error:<cls>".

PDF turns arrive either as raw %PDF- bytes latin-1-smuggled in the string
column or base64-wrapped with prefix "pdfb64:" (FIXTURES.md §1 — a latin-1
string column would corrupt PDF bytes).
"""

from __future__ import annotations

import base64
import binascii

from .device import SimpleTextDevice
from .html_extract import extract_html_status, html_signals
from .interp import process_pdf
from .pdftypes import PDFNotImplementedError

__all__ = [
    "classify_text",
    "extract_pdf_bytes",
    "extract_turn",
    "decode_pdf_payload",
    "probe_pdf_pages_validated",
    "extract_pdf_segment",
    "merge_pdf_segments",
]

PDF_B64_PREFIX = "pdfb64:"


def classify_text(text: str) -> str:
    if text.startswith(PDF_B64_PREFIX) or text.startswith("%PDF-"):
        return "pdf"
    if html_signals(text):
        return "html"
    return "text"


def _process_status(device, data: bytes, **window) -> str:
    """Run the kernel chain into ``device``; the parse status it ends with.
    Lenient — never raises: one bad PDF must not kill the batch, so any
    failure (RecursionError included) becomes ``error:<class name>``."""
    try:
        process_pdf(device, data, **window)
        return "ok"
    except PDFNotImplementedError:
        return "unsupported_filter"
    except Exception as exc:
        return "error:%s" % type(exc).__name__


def extract_pdf_bytes(
    data: bytes, device_factory=SimpleTextDevice
) -> tuple[str, list[tuple[int, int, int]], str]:
    """Run the full kernel chain (P1-P7) over one PDF; lenient — never raises.

    ``device_factory`` selects the layout policy: SimpleTextDevice (golden
    parity, default) or AdvanceTextDevice (AFM-width word-spacing
    synthesis — an opt-in capability beyond the reference)."""
    device = device_factory()
    status = _process_status(device, data)
    return device.get_text(), device.spans, status


def decode_pdf_payload(text: str) -> bytes | None:
    """PDF turn payload → raw bytes (None on a bad base64 wrapper)."""
    if text.startswith(PDF_B64_PREFIX):
        try:
            return base64.b64decode(text[len(PDF_B64_PREFIX):], validate=False)
        except (binascii.Error, ValueError):
            return None
    return text.encode("latin-1", "replace")


def get_device_factory(name: str):
    """Layout-policy registry: 'simple' (golden parity, default),
    'advance' (AFM word-spacing synthesis), 'column' (column-major
    reading order)."""
    from .device import AdvanceTextDevice, ColumnTextDevice

    factories = {
        "simple": SimpleTextDevice,
        "advance": AdvanceTextDevice,
        "column": ColumnTextDevice,
    }
    try:
        return factories[name]
    except KeyError:
        raise ValueError(
            "unknown device %r (choose from %s)" % (name, sorted(factories))
        ) from None


def extract_turn(
    text: str, device_factory=SimpleTextDevice
) -> tuple[str, str, list[tuple[int, int, int]], str]:
    """(content_type, extracted_text, spans, parse_status) for one turn."""
    if text is None:
        return ("text", "", [], "ok")
    ctype = classify_text(text)
    if ctype == "pdf":
        data = decode_pdf_payload(text)
        if data is None:
            return ("pdf", "", [], "error:Base64DecodeError")
        extracted, spans, status = extract_pdf_bytes(data, device_factory)
        return ("pdf", extracted, spans, status)
    if ctype == "html":
        extracted, status = extract_html_status(text)
        return ("html", extracted, [(0, 0, len(extracted))], status)
    return ("text", text, [(0, 0, len(text))], "ok")


# --- per-page-parallel extraction of huge documents --------------------------
#
# A 10k-page PDF is one row, hence one task, hence a straggler no salting can
# fix.  The split path: (1) a cheap page-count probe (xref + page-tree walk,
# no content decode), (2) heavy docs explode into page-range segments that
# extract in parallel, (3) an exact merge reapplies the |Δy|>3 newline policy
# at segment boundaries using each segment's (first_y, last_y) so the result
# is byte-identical to whole-doc extraction (pinned in pytest, incl. the
# no-newline-at-page-boundary case).


def probe_pdf_pages_validated(text: str) -> tuple[int, bool]:
    """(n_pages, counts_ok) for the split planner; (-1, False) when
    unparseable (the planner then routes the turn through the whole-doc
    path, which surfaces the real error status).  counts_ok permits the
    Count-skipping fast window walk in segments (O(window) instead of
    O(total pages) tree traversal)."""
    from .interp import count_pdf_pages_validated

    data = decode_pdf_payload(text)
    if data is None:
        return -1, False
    try:
        return count_pdf_pages_validated(data)
    except Exception:
        return -1, False


def extract_pdf_segment(
    text: str, page_start: int, page_end: int, fast: bool = False
) -> dict:
    """Extract one page window [page_start, page_end) of a PDF turn.

    Returns segment text/spans/status plus the merge metadata: y of the
    segment's first rendered string, the device's final last_y, and whether
    anything rendered.  Page numbers in spans are window-local (1-based);
    the merge adds the window offset back.

    ``fast=True`` is only valid when probe_pdf_pages_validated returned
    counts_ok — it enables the /Count subtree-skipping window walk.
    """
    device = SimpleTextDevice()
    data = decode_pdf_payload(text)
    if data is None:
        return {
            "seg_text": "", "spans": [], "status": "error:Base64DecodeError",
            "first_y": None, "last_y": None, "rendered_any": False,
        }
    status = _process_status(
        device, data, page_start=page_start, page_end=page_end, fast_window=fast
    )
    return {
        "seg_text": device.get_text(),
        "spans": device.spans,
        "status": status,
        "first_y": device.first_y,
        "last_y": device.last_y if device.rendered_any else None,
        "rendered_any": device.rendered_any,
    }


def merge_pdf_segments(segments: list[dict]) -> tuple[str, list[tuple[int, int, int]], str]:
    """Reassemble ordered page-range segments into the whole-doc result.

    Exactness argument: inside a segment the |Δy|>3 policy saw the same
    sequence of y values as whole-doc extraction, EXCEPT for the very first
    rendered string, where a fresh device (last_y = -1e20) always emitted a
    newline.  The merge recomputes that one decision from the carried
    last_y: if |prev_last_y - first_y| <= 3 the segment's leading newline is
    stripped (it sits at char 0 — nothing renders before it).  A non-ok
    segment ends the document exactly where sequential extraction would
    have stopped: its partial text is kept, later segments are dropped.
    """
    parts: list[str] = []
    spans: list[tuple[int, int, int]] = []
    status = "ok"
    offset = 0
    page_offset = 0
    prev_last_y = -1e20
    for seg in segments:
        text = seg["seg_text"]
        strip = 0
        if (
            seg["rendered_any"]
            and seg["first_y"] is not None
            and abs(prev_last_y - seg["first_y"]) <= 3
        ):
            # whole-doc extraction would NOT have broken the line here.  A
            # fresh device always prefixes its first render with "\n", so a
            # rendered segment must start with one — but guard rather than
            # assert: if the invariant ever breaks, keep the text unchanged
            # instead of corrupting it (and never strip a non-newline).
            if text.startswith("\n"):
                text = text[1:]
                strip = 1
        parts.append(text)
        for (p, s, e) in seg["spans"]:
            s2 = s - strip if s > 0 else s
            e2 = e - strip if e > 0 else e
            spans.append((p + page_offset, s2 + offset, e2 + offset))
        offset += len(text)
        # one span per processed page, so this is the pages-consumed count
        page_offset += len(seg["spans"])
        if seg["rendered_any"] and seg["last_y"] is not None:
            prev_last_y = seg["last_y"]
        if seg["status"] != "ok":
            # sequential extraction stops here; drop the rest
            status = seg["status"]
            break
    return "".join(parts), spans, status
