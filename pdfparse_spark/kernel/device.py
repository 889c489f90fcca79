"""Text-dumping output device = the layout reassembly policy (SURVEY.md §2
P7).  Reference: /root/reference/simple-device.lisp:19-41.

Golden-defining quirks replicated exactly:
- newline emitted iff |last_y - y| > 3, where y is the text matrix's f
  component (CTM is IGNORED — the reference's (setf device-ctm) is a no-op);
- last_y starts at -1e20, so the FIRST rendered string always emits a
  leading newline, and last_y persists across pages;
- only elements at even positions of a TJ sequence are decoded (kern numbers
  at odd positions are skipped without inspection);
- unmapped CIDs render as "<CID x>" with uppercase hex;
- no intra-line x-sorting, no synthesized word spacing.
"""

from __future__ import annotations

__all__ = ["SimpleTextDevice", "AdvanceTextDevice", "ColumnTextDevice"]


def _show_text(font, seq) -> str:
    """The text of a show operand: only the strings at even positions of a
    TJ sequence are decoded (the kern numbers at odd positions are skipped
    without inspection)."""
    decode_text = font.decode_text
    if len(seq) == 1:  # Tj, ' and " show one string
        return decode_text(seq[0]) if isinstance(seq[0], bytes) else ""
    text = ""
    for i in range(0, len(seq), 2):
        item = seq[i]
        if isinstance(item, bytes):
            text += decode_text(item)
    return text


class _TextDevice:
    """What every text device shares: the no-op callbacks
    (simple-device.lisp:10-18), the written text and its per-page spans."""

    def __init__(self):
        self._parts: list[str] = []
        self._len = 0
        self._page_no = 0
        self._page_start = 0
        self.spans: list[tuple[int, int, int]] = []

    # --- page lifecycle ---------------------------------------------------
    def begin_page(self, page, ctm) -> None:
        self._page_no += 1
        self._page_start = self._len

    def end_page(self, page) -> None:
        self.spans.append((self._page_no, self._page_start, self._len))

    # --- no-op callbacks ----------------------------------------------------
    def begin_tag(self, tag, props=None) -> None:
        pass

    def end_tag(self) -> None:
        pass

    def do_tag(self, tag, props=None) -> None:
        pass

    def begin_figure(self, bbox, matrix) -> None:
        pass

    def end_figure(self) -> None:
        pass

    def paint_path(self, graphicstate, stroke, fill, evenodd, path) -> None:
        pass

    def render_image(self, stream) -> None:
        pass

    def set_ctm(self, ctm) -> None:
        pass  # text devices ignore CTM entirely

    def _write(self, s: str) -> None:
        self._parts.append(s)
        self._len += len(s)

    def get_text(self) -> str:
        return "".join(self._parts)


class SimpleTextDevice(_TextDevice):
    """Accumulates reading-order text + per-page character spans."""

    def __init__(self):
        super().__init__()
        self._last_y = -1e20
        # segment-merge metadata (per-page split extraction): y of the first
        # rendered string and the final last_y, so a reassembly step can
        # apply the |Δy|>3 newline policy EXACTLY across segment boundaries
        self.first_y: float | None = None
        self.rendered_any = False

    # --- the policy ---------------------------------------------------------
    def render_string(self, textstate, seq) -> None:
        y = textstate.matrix[5]
        if not self.rendered_any:
            self.first_y = y
            self.rendered_any = True
        text = "" if textstate.font is None else _show_text(textstate.font, seq)
        if abs(self._last_y - y) > 3:
            text = "\n" + text
        self._last_y = y
        if text:
            self._write(text)

    @property
    def last_y(self) -> float:
        return self._last_y


class AdvanceTextDevice(SimpleTextDevice):
    """Layout device that CONSUMES advance widths (core-14 AFM data,
    /Widths arrays, CID /W) to synthesize word spacing the golden policy
    deliberately omits.

    NOT the golden device: the reference's simple device ignores x
    entirely (simple-device.lisp:19-41), so this is the opt-in add-on the
    AFM tables enable.  Two signals produce a synthesized space:

    - a show op that STARTS past the previous run's computed end-x by more
      than ``space_frac`` of the font's space advance (Td/Tm gaps), and
    - a TJ kern displacement wider than the same threshold (the classic
      encoding of word gaps as kern numbers).

    Advances are computed in text space — char_width x fontsize +
    charspace (+ wordspace for single-byte code 32), all scaled by
    Tz/100 — then mapped to device x via the text matrix's a component
    (rotation/skew make x-gap detection meaningless; those lines fall
    back to no-space, same as the golden device).
    """

    def __init__(self, space_frac: float = 0.5):
        super().__init__()
        self._space_frac = space_frac
        self._end_x: float | None = None  # device-x where the last run ended

    def _space_threshold(self, textstate, m0: float) -> float:
        font = textstate.font
        space_w = None
        if font is not None:
            w = font.widths.get(32)
            if w:
                space_w = w * font.hscale
        if not space_w:
            space_w = 0.25  # em fallback when the font lacks a space width
        return self._space_frac * space_w * textstate.fontsize * (
            textstate.scaling * 0.01
        ) * abs(m0)

    def render_string(self, textstate, seq) -> None:
        m = textstate.matrix
        y = m[5]
        if not self.rendered_any:
            self.first_y = y
            self.rendered_any = True
        font = textstate.font
        fs = textstate.fontsize
        sc = textstate.scaling * 0.01
        m0 = m[0]
        chars: list[str] = []
        if abs(self._last_y - y) > 3:
            chars.append("\n")
            self._end_x = None
        elif (
            self._end_x is not None
            and m0 > 0
            and m[4] - self._end_x > self._space_threshold(textstate, m0)
        ):
            chars.append(" ")
        self._last_y = y
        x = m[4]
        threshold = self._space_threshold(textstate, m0) if m0 > 0 else None
        for i in range(len(seq)):
            item = seq[i]
            if isinstance(item, bytes) and font is not None:
                if i % 2 != 0:
                    continue  # strings at even positions only (golden policy)
                chars.append(font.decode_text(item))
                for cid in font.decode(item):
                    adv = font.char_width(cid) * fs + textstate.charspace
                    if cid == 32 and not font.is_multibyte():
                        adv += textstate.wordspace
                    x += adv * sc * m0
            elif isinstance(item, (int, float)):
                dx = -item * 0.001 * fs * sc * m0
                if threshold is not None and dx > threshold:
                    chars.append(" ")
                x += dx
        self._end_x = x if m0 > 0 else None
        text = "".join(chars)
        if text:
            self._write(text)


class ColumnTextDevice(_TextDevice):
    """Column-aware reading-order device (opt-in, beyond the reference):
    buffers each show op as a positioned run, clusters run x-origins into
    columns by a 1-D gap threshold at page end, and emits column-major
    reading order (left column top-to-bottom, then the next column) —
    what a human reads, where the golden policy emits raw content-stream
    order (simple-device.lisp has no notion of x at all).

    Scoped on purpose: column split on x-start gaps > ``col_gap`` points
    (half an inch by default — wider than any word gap, narrower than a
    real gutter); within a column, runs sort by (-y, x) and the |Δy|>3
    newline rule is applied inside the column.  Rotated text matrices are
    binned by their raw e/f translation — exotic layouts degrade to
    per-column stream order, never crash.
    """

    def __init__(self, col_gap: float = 36.0):
        super().__init__()
        self._col_gap = col_gap
        self._runs: list[tuple[float, float, str]] = []  # (x, y, text) this page

    # --- page lifecycle ---------------------------------------------------
    def begin_page(self, page, ctm) -> None:
        super().begin_page(page, ctm)
        self._runs = []

    def end_page(self, page) -> None:
        self._write(self._layout(self._runs))
        super().end_page(page)

    def _layout(self, runs: list[tuple[float, float, str]]) -> str:
        if not runs:
            return ""
        xs = sorted({x for x, _y, _t in runs})
        # split the sorted x-origins where consecutive gaps exceed col_gap
        boundaries: list[float] = []
        for a, b in zip(xs, xs[1:]):
            if b - a > self._col_gap:
                boundaries.append((a + b) / 2.0)

        def col_of(x: float) -> int:
            c = 0
            for bd in boundaries:
                if x > bd:
                    c += 1
            return c

        by_col: dict[int, list[tuple[float, float, str]]] = {}
        for i, (x, y, t) in enumerate(runs):
            by_col.setdefault(col_of(x), []).append((x, y, t))
        out: list[str] = []
        for c in sorted(by_col):
            col_runs = sorted(by_col[c], key=lambda r: (-r[1], r[0]))
            last_y = -1e20
            for x, y, t in col_runs:
                if abs(last_y - y) > 3:
                    out.append("\n")
                last_y = y
                out.append(t)
        return "".join(out)

    # --- run capture ------------------------------------------------------
    def render_string(self, textstate, seq) -> None:
        if textstate.font is None:
            return
        text = _show_text(textstate.font, seq)
        if text:
            m = textstate.matrix
            self._runs.append((m[4], m[5], text))
