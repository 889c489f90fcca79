"""Content-stream interpreter: graphics/text state machine + the 76-operator
table (SURVEY.md §2.B).  Reference: /root/reference/pdfparse.lisp:2007-2816.

Text-equality-relevant semantics replicated exactly:
- Tm/Td/TD/T* update the text matrix whose f component drives the device's
  newline policy; TL negates its operand (pdfparse.lisp:2610), TD sets
  leading=ty un-negated (pdfparse.lisp:2643);
- BT resets the text matrix to identity;
- q/Q save/restore (ctm, textstate copy, graphicstate copy);
- Form XObjects recurse with a fresh interpreter and composed CTM
  (pdfparse.lisp:2710-2725) — which the simple device then ignores;
- path/color/marked-content operators are arity-correct stack pops.

Lenient deviations from hard errors in the reference: Tf with an undefined
font id raises PDFInterpreterError (the reference errors unconditionally,
pdfparse.lisp:2622) — the turn kernel maps it to parse_status="error";
unknown operators are ignored (non-strict mode).

Show path inlined for the golden device: when the device is exactly a
``SimpleTextDevice``, ``execute`` runs Tj and T* inline
(``_execute_simple``), with what ``do_Tj`` + ``SimpleTextDevice.render_string``
and ``do_T_star`` do; they are 1,600 of the 1,700 operators of a
``make_big_pdf(20, 40)`` document.  That loop consumes the page's raw
whole-buffer tokens (``PDFContentParser.tokens``), each resolved as it is
reached, so a token crosses one Python loop; a show token ("(string) Tj")
runs as one step, a show line ("(string) Tj T*", a whole text line) as the
same Tj step followed by the same T* step, and a collection is assembled
from the same tokens when its opener is reached.  Every other operator, and
every other device (subclasses included), goes through the ``do_*``
dispatch over ``iter_objects``, which stays the authority
(tests/test_page_loop_differential.py).  Both paths look a plain
operator's ``do_*`` method up once per interpreter, that is once per
document.
"""

from __future__ import annotations

from .psparse import KWD, LIT, PSEOF, PSKeyword, PSLiteral, _token_value
from .pdfdocument import PDFDocument, PDFPage
from .pdfparser import _COLLECTIONS, PDFContentParser, PDFParser, _assemble
from .pdftypes import (
    PDFObjRef,
    PDFStream,
    dict_value,
    int_value,
    list_value,
    resolve1,
    stream_value,
)
from .fonts import get_font
from .device import SimpleTextDevice

__all__ = [
    "PDFInterpreterError",
    "PDFResourceManager",
    "PDFPageInterpreter",
    "process_pdf",
    "MATRIX_IDENTITY",
    "mult_matrix",
]

MATRIX_IDENTITY = (1, 0, 0, 1, 0, 0)

LITERAL_FORM = LIT("Form")
LITERAL_IMAGE = LIT("Image")
LITERAL_FONT = LIT("Font")
LITERAL_COLORSPACE = LIT("ColorSpace")
LITERAL_XOBJECT = LIT("XObject")

# the operators _execute_simple runs inline
_OP_TJ = KWD("Tj")
_OP_T_STAR = KWD("T*")
# collection openers: at one, _execute_simple hands its token iterator to _assemble
_OPENERS = {kw: act for kw, act in _COLLECTIONS.items() if act[0] != "/"}


class PDFInterpreterError(Exception):
    pass


def mult_matrix(m1, m2):
    """(m1 then m2) composition; util.lisp:59-64."""
    a1, b1, c1, d1, e1, f1 = m1
    a0, b0, c0, d0, e0, f0 = m2
    return (
        a0 * a1 + c0 * b1,
        b0 * a1 + d0 * b1,
        a0 * c1 + c0 * d1,
        b0 * c1 + d0 * d1,
        a0 * e1 + c0 * f1 + e0,
        b0 * e1 + d0 * f1 + f0,
    )


class PDFTextState:
    __slots__ = (
        "font", "fontsize", "charspace", "wordspace", "scaling",
        "leading", "render", "rise", "matrix", "linematrix",
    )

    def __init__(self):
        self.font = None
        self.fontsize = 0
        self.charspace = 0
        self.wordspace = 0
        self.scaling = 100
        self.leading = 0
        self.render = 0
        self.rise = 0
        self.reset()

    def reset(self):
        self.matrix = MATRIX_IDENTITY
        self.linematrix = (0, 0)

    def copy(self) -> "PDFTextState":
        obj = PDFTextState.__new__(PDFTextState)
        for slot in PDFTextState.__slots__:
            setattr(obj, slot, getattr(self, slot))
        return obj


class PDFGraphicState:
    __slots__ = ("linewidth", "linecap", "linejoin", "miterlimit", "dash",
                 "intent", "flatness")

    def __init__(self):
        self.linewidth = 0
        self.linecap = self.linejoin = self.miterlimit = self.dash = None
        self.intent = self.flatness = None

    def copy(self) -> "PDFGraphicState":
        obj = PDFGraphicState.__new__(PDFGraphicState)
        for slot in PDFGraphicState.__slots__:
            setattr(obj, slot, getattr(self, slot))
        return obj


class PDFColorSpace:
    __slots__ = ("name", "ncomponents")

    def __init__(self, name, ncomponents: int):
        self.name = name
        self.ncomponents = ncomponents


PREDEFINED_COLORSPACE = {
    LIT(name): PDFColorSpace(LIT(name), n)
    for name, n in [
        ("CalRGB", 3), ("CalGray", 1), ("Lab", 3), ("DeviceRGB", 3),
        ("DeviceCMYK", 4), ("DeviceGray", 1), ("Separation", 1),
        ("Indexed", 1), ("Pattern", 1),
    ]
}


_DEVICE_GRAY = PREDEFINED_COLORSPACE[LIT("DeviceGray")]


class PDFResourceManager:
    """Shared font cache keyed by objid (pdfparse.lisp:2080-2147)."""

    def __init__(self):
        self._cached_fonts: dict[int, object] = {}

    def get_font(self, objid, spec):
        """The font of ``spec``, a font dict or a reference to one; cached by
        ``objid``, so a hit resolves nothing."""
        if objid is not None and objid in self._cached_fonts:
            return self._cached_fonts[objid]
        font = get_font(dict_value(resolve1(spec)))
        if objid is not None:
            self._cached_fonts[objid] = font
        return font


class PDFPageInterpreter:
    def __init__(self, rsrcmgr: PDFResourceManager, device):
        self.rsrcmgr = rsrcmgr
        self.device = device
        # operator keyword → bound do_* method, False when unknown: PSKeywords
        # are interned, so identity is stable; one interpreter serves one
        # document (a form gets its own through dup)
        self._ops: dict = {}

    def dup(self) -> "PDFPageInterpreter":
        return PDFPageInterpreter(self.rsrcmgr, self.device)

    # --- setup ----------------------------------------------------------------
    def init_resources(self, resources) -> None:
        self.resources = resources
        self.fontmap: dict = {}
        self.xobjmap: dict = {}
        self.csmap: dict = dict(PREDEFINED_COLORSPACE)
        if not resources:
            return

        def get_colorspace(spec):
            name = spec[0] if isinstance(spec, list) else spec
            if name is LIT("ICCBased") and isinstance(spec, list) and len(spec) >= 2:
                return PDFColorSpace(
                    name, int_value(stream_value(resolve1(spec[1])).get(LIT("N"), 1))
                )
            if name is LIT("DeviceN") and isinstance(spec, list) and len(spec) >= 2:
                return PDFColorSpace(name, len(list_value(resolve1(spec[1]))))
            return PREDEFINED_COLORSPACE.get(name)

        for k, v in dict_value(resources).items():
            if k is LITERAL_FONT:
                for font_id, spec in dict_value(resolve1(v)).items():
                    objid = spec.objid if isinstance(spec, PDFObjRef) else None
                    self.fontmap[font_id] = self.rsrcmgr.get_font(objid, spec)
            elif k is LITERAL_COLORSPACE:
                for csid, spec in dict_value(resolve1(v)).items():
                    self.csmap[csid] = get_colorspace(resolve1(spec))
            elif k is LITERAL_XOBJECT:
                for xobjid, xobjstrm in dict_value(resolve1(v)).items():
                    self.xobjmap[xobjid] = xobjstrm

    def init_state(self, ctm) -> None:
        self.gstack: list = []
        self.ctm = ctm
        self.textstate = PDFTextState()
        self.graphicstate = PDFGraphicState()
        self.curpath: list = []
        self.argstack: list = []
        # deterministic default (the reference picks an arbitrary hash-order
        # value, pdfparse.lisp:2342-2344); fixtures always set cs/CS first
        self.scs = self.ncs = _DEVICE_GRAY
        self.device.set_ctm(ctm)

    # --- stack ------------------------------------------------------------------
    def push(self, obj) -> None:
        self.argstack.append(obj)

    def pop(self, n: int) -> list:
        if n == 0:
            return []
        vals = self.argstack[-n:]  # all of a shorter stack
        del self.argstack[-n:]
        return vals

    def current_state(self):
        return (self.ctm, self.textstate.copy(), self.graphicstate.copy())

    def set_current_state(self, state) -> None:
        self.ctm, self.textstate, self.graphicstate = state
        self.device.set_ctm(self.ctm)

    # --- operators (§2.B) ---------------------------------------------------
    def do_q(self):
        self.gstack.append(self.current_state())

    def do_Q(self):
        if self.gstack:
            self.set_current_state(self.gstack.pop())

    def do_cm(self):
        vals = self.pop(6)
        if len(vals) == 6:
            self.ctm = mult_matrix(tuple(vals), self.ctm)
            self.device.set_ctm(self.ctm)

    def do_w(self):
        self.graphicstate.linewidth = _first(self.pop(1))

    def do_J(self):
        self.graphicstate.linecap = _first(self.pop(1))

    def do_j(self):
        self.graphicstate.linejoin = _first(self.pop(1))

    def do_M(self):
        self.graphicstate.miterlimit = _first(self.pop(1))

    def do_d(self):
        vals = self.pop(2)
        if len(vals) == 2:
            self.graphicstate.dash = (vals[0], vals[1])

    def do_ri(self):
        self.graphicstate.intent = _first(self.pop(1))

    def do_i(self):
        self.graphicstate.flatness = _first(self.pop(1))

    def do_gs(self):
        self.pop(1)

    # path construction (no text effect)
    def do_m(self):
        vals = self.pop(2)
        if len(vals) == 2:
            self.curpath.append(("m", *vals))

    def do_l(self):
        vals = self.pop(2)
        if len(vals) == 2:
            self.curpath.append(("l", *vals))

    def do_c(self):
        vals = self.pop(6)
        if len(vals) == 6:
            self.curpath.append(("c", *vals))

    def do_v(self):
        vals = self.pop(4)
        if len(vals) == 4:
            self.curpath.append(("v", *vals))

    def do_y(self):
        vals = self.pop(4)
        if len(vals) == 4:
            self.curpath.append(("y", *vals))

    def do_h(self):
        self.curpath.append(("h",))

    def do_re(self):
        vals = self.pop(4)
        if len(vals) == 4:
            x, y, w, h = vals
            self.curpath += [
                ("m", x, y), ("l", x + w, y), ("l", x + w, y + h),
                ("l", x, y + h), ("h",),
            ]

    # path painting (device no-ops)
    def _paint(self, stroke, fill, evenodd):
        self.device.paint_path(self.graphicstate, stroke, fill, evenodd, self.curpath)
        self.curpath = []

    def do_S(self):
        self._paint(True, False, False)

    def do_s(self):
        self.do_h()
        self.do_S()

    def do_f(self):
        self._paint(False, True, False)

    do_F = do_f

    def do_f_star(self):
        self._paint(False, True, True)

    def do_B(self):
        self._paint(True, True, False)

    def do_B_star(self):
        self._paint(True, True, True)

    def do_b(self):
        self.do_h()
        self.do_B()

    def do_b_star(self):
        self.do_h()
        self.do_B_star()

    def do_n(self):
        self.curpath = []

    def do_W(self):
        pass

    def do_W_star(self):
        pass

    # color (arity-correct pops; SCN arity = current colorspace components)
    def do_CS(self):
        name = _first(self.pop(1))
        self.scs = self.csmap.get(name)

    def do_cs(self):
        name = _first(self.pop(1))
        self.ncs = self.csmap.get(name)

    def do_G(self):
        self.pop(1)

    def do_g(self):
        self.pop(1)

    def do_RG(self):
        self.pop(3)

    def do_rg(self):
        self.pop(3)

    def do_K(self):
        self.pop(4)

    def do_k(self):
        self.pop(4)

    def do_SCN(self):
        self.pop(self.scs.ncomponents if self.scs else 1)

    def do_scn(self):
        self.pop(self.ncs.ncomponents if self.ncs else 1)

    do_SC = do_SCN
    do_sc = do_scn

    def do_sh(self):
        self.pop(1)

    # text object
    def do_BT(self):
        self.textstate.reset()

    def do_ET(self):
        pass

    def do_BX(self):
        pass

    def do_EX(self):
        pass

    # marked content
    def do_MP(self):
        self.device.do_tag(*self.pop(1))

    def do_DP(self):
        self.device.do_tag(*self.pop(2))

    def do_BMC(self):
        self.device.begin_tag(*self.pop(1))

    def do_BDC(self):
        self.device.begin_tag(*self.pop(2))

    def do_EMC(self):
        self.device.end_tag()

    # text state
    # non-numeric/missing operands fall back to the PDFTextState defaults
    # (the same guard style as do_TL/do_Tr/do_Ts): an unguarded None or
    # PSLiteral in textstate crashes the advance-width device's arithmetic
    # turns later, far from the malformed operator
    def do_Tc(self):
        v = _first(self.pop(1))
        self.textstate.charspace = v if isinstance(v, (int, float)) else 0

    def do_Tw(self):
        v = _first(self.pop(1))
        self.textstate.wordspace = v if isinstance(v, (int, float)) else 0

    def do_Tz(self):
        v = _first(self.pop(1))
        self.textstate.scaling = v if isinstance(v, (int, float)) else 100

    def do_TL(self):
        v = _first(self.pop(1))
        self.textstate.leading = -v if isinstance(v, (int, float)) else 0

    def do_Tf(self):
        vals = self.pop(2)
        if len(vals) != 2:
            raise PDFInterpreterError("Tf missing operands")
        fontid, fontsize = vals
        font = self.fontmap.get(fontid)
        if font is None:
            raise PDFInterpreterError(
                "undefined font id: %r" % (getattr(fontid, "name", fontid),)
            )
        self.textstate.font = font
        self.textstate.fontsize = (
            fontsize if isinstance(fontsize, (int, float)) else 0
        )

    def do_Tr(self):
        v = _first(self.pop(1))
        self.textstate.render = -v if isinstance(v, (int, float)) else 0

    def do_Ts(self):
        v = _first(self.pop(1))
        self.textstate.rise = -v if isinstance(v, (int, float)) else 0

    # text positioning
    def do_Td(self):
        vals = self.pop(2)
        if len(vals) == 2:
            tx, ty = vals
            a, b, c, d, e, f = self.textstate.matrix
            self.textstate.matrix = (a, b, c, d, tx * a + ty * c + e, tx * b + ty * d + f)
            self.textstate.linematrix = (0, 0)

    def do_TD(self):
        vals = self.pop(2)
        if len(vals) == 2:
            tx, ty = vals
            a, b, c, d, e, f = self.textstate.matrix
            self.textstate.matrix = (a, b, c, d, tx * a + ty * c + e, tx * b + ty * d + f)
            self.textstate.leading = ty
            self.textstate.linematrix = (0, 0)

    def do_Tm(self):
        vals = self.pop(6)
        if len(vals) == 6:
            self.textstate.matrix = tuple(vals)
            self.textstate.linematrix = (0, 0)

    def do_T_star(self):
        a, b, c, d, e, f = self.textstate.matrix
        leading = self.textstate.leading
        self.textstate.matrix = (a, b, c, d, c * leading + e, d * leading + f)
        self.textstate.linematrix = (0, 0)

    # text showing
    def do_TJ(self):
        seq = _first(self.pop(1))
        if not isinstance(seq, list):
            return
        self.device.render_string(self.textstate, seq)

    # Tj/'/" wrap their operand into a TJ-style one-element sequence.  The
    # hot paths hand that list to render_string directly instead of the
    # push-then-do_TJ round trip (pop + push + pop + _first per Tj); the
    # rendered call is identical in every case — including an empty arg
    # stack, where pop(1) yields [] and render_string([]) still applies
    # the Δy newline policy exactly as the wrapped path did.
    def do_Tj(self):
        self.device.render_string(self.textstate, self.pop(1))

    def do_quote(self):
        self.do_T_star()
        self.device.render_string(self.textstate, self.pop(1))

    def do_dquote(self):
        vals = self.pop(3)
        if len(vals) != 3:
            return
        aw, ac, s = vals
        self.push(aw)
        self.do_Tw()
        self.push(ac)
        self.do_Tc()
        self.device.render_string(self.textstate, [s])

    # inline images
    def do_BI(self):
        pass

    def do_ID(self):
        pass

    def do_EI(self):
        obj = _first(self.pop(1))
        if isinstance(obj, PDFStream) and LIT("W") in obj and LIT("H") in obj:
            self.device.begin_figure((0, 0, 1, 1), MATRIX_IDENTITY)
            self.device.render_image(obj)
            self.device.end_figure()

    # XObjects
    def do_Do(self):
        xobjid = _first(self.pop(1))
        xobj = stream_value(resolve1(self.xobjmap.get(xobjid)))
        subtype = resolve1(xobj.get(LIT("Subtype")))
        if subtype is LITERAL_FORM and xobj.get(LIT("BBox")) is not None:
            # two caps against recursive/branching form graphs (a depth cap
            # alone turns mutual recursion into 2^depth invocations):
            #   depth ≤ 32     bounds the stack,
            #   total ≤ 10_000 bounds the work (shared across the whole
            #                  render via a mutable budget dup() propagates)
            budget = getattr(self, "form_budget", None)
            if budget is None:
                budget = self.form_budget = {"n": 10_000}
            if getattr(self, "xobj_depth", 0) >= 32 or budget["n"] <= 0:
                return
            budget["n"] -= 1
            interpreter = self.dup()
            interpreter.xobj_depth = getattr(self, "xobj_depth", 0) + 1
            interpreter.form_budget = budget
            bbox = list_value(resolve1(xobj.get(LIT("BBox"))))
            matrix = list_value(resolve1(xobj.get(LIT("Matrix")))) or list(
                MATRIX_IDENTITY
            )
            resources = dict_value(resolve1(xobj.get(LIT("Resources"))))
            if not resources:
                resources = dict(dict_value(self.resources))
            self.device.begin_figure(bbox, matrix)
            interpreter.render_contents(
                resources, [xobj], ctm=mult_matrix(tuple(matrix), self.ctm)
            )
            self.device.end_figure()
        elif (
            subtype is LITERAL_IMAGE
            and LIT("Width") in xobj
            and LIT("Height") in xobj
        ):
            self.device.begin_figure((0, 0, 1, 1), MATRIX_IDENTITY)
            self.device.render_image(xobj)
            self.device.end_figure()

    # --- dispatch ----------------------------------------------------------
    _OP_NAME_SPECIAL = {
        "f*": "do_f_star", "B*": "do_B_star", "b*": "do_b_star",
        "W*": "do_W_star", "T*": "do_T_star", "'": "do_quote",
        '"': "do_dquote",
    }

    def _operator(self, kw: PSKeyword):
        """The bound ``do_*`` method of operator ``kw``; False when unknown."""
        name = kw.name
        return getattr(self, self._OP_NAME_SPECIAL.get(name) or "do_" + name, False)

    def execute(self, streams: list) -> None:
        try:
            parser = PDFContentParser(streams)
        except PSEOF:
            return
        if self.device.__class__ is SimpleTextDevice:
            self._execute_simple(*parser.tokens())
            return
        # Objects come from the specialized iter_objects assembler (pinned
        # differentially against nextobject).
        ops = self._ops
        push = self.push
        for obj in parser.iter_objects():
            if obj.__class__ is PSKeyword:
                fn = ops.get(obj)
                if fn is None:
                    fn = ops[obj] = self._operator(obj)
                if fn:
                    fn()
                # unknown operators ignored (non-strict)
            else:
                push(obj)

    def _execute_simple(self, tokens, lookup) -> None:
        """``execute`` for exactly a SimpleTextDevice over the page's tokens
        (``PDFContentParser.tokens``): each token is resolved through
        ``lookup`` as the loop reaches it, and Tj and T* run inline, doing
        what ``do_Tj`` + ``SimpleTextDevice.render_string`` and
        ``do_T_star`` do, with the argument stack, text state, font and
        device state held in locals.  A show token runs as its string pushed
        and then Tj, a show line as that and then T*.  A collection opener hands the token iterator to
        ``_assemble``, which pushes the collection once it closes; stray
        closers are unknown operators.  Every other operator runs its
        ``do_*`` method, with the device state written back before the call
        and read again after it (a Form XObject's ``Do`` renders into the
        same device; ``Q`` replaces the text state)."""
        device = self.device
        parts = device._parts
        length, last_y, rendered = device._len, device._last_y, device.rendered_any
        stack = self.argstack
        ts = self.textstate
        font = ts.font
        tokens = iter(tokens)
        ops = self._ops
        ops_get = ops.get
        line = False  # the show token being run is a show line: T* follows its Tj
        try:
            for tok in tokens:
                obj = lookup(tok)
                if obj is None:
                    obj = tok.lstrip()
                    tail = obj[-1]
                    if obj[0] == 0x28 and tail != 0x29:  # a show token or line, as _token_value reads it
                        if tail == 0x6A:
                            stack.append(obj[1 : -3 if obj[-3] == 0x29 else -4])
                        else:
                            stack.append(obj[1 : -6 if obj[-6] == 0x29 else -7])
                            line = True
                        obj = _OP_TJ
                    else:
                        try:
                            obj = _token_value(tok)
                        except ValueError:
                            continue  # an integer too long for int(): dropped, as nexttoken drops it
                if obj.__class__ is not PSKeyword:
                    stack.append(obj)
                    continue
                if obj is _OP_TJ:
                    s = stack.pop() if stack else None
                    y = ts.matrix[5]
                    if not rendered:
                        device.first_y = y
                        rendered = device.rendered_any = True
                    text = font.decode_text(s) if font is not None and isinstance(s, bytes) else ""
                    if abs(last_y - y) > 3:
                        text = "\n" + text
                    last_y = y
                    if text:
                        parts.append(text)
                        length += len(text)
                    if not line:
                        continue
                    line = False
                elif obj is not _OP_T_STAR:
                    fn = ops_get(obj)
                    if fn is None:
                        act = _OPENERS.get(obj)
                        if act is not None:  # the collection, from the same tokens, is pushed
                            _assemble(tokens, _COLLECTIONS, stack, lookup, opened=act)
                            continue
                        fn = ops[obj] = self._operator(obj)
                    if fn:
                        device._len, device._last_y = length, last_y
                        try:
                            fn()
                        finally:
                            length, last_y = device._len, device._last_y
                            rendered = device.rendered_any
                            ts = self.textstate
                            font = ts.font
                    continue
                a, b, c, d, e, f = ts.matrix  # T*, alone or after a show line's Tj
                leading = ts.leading
                ts.matrix = (a, b, c, d, c * leading + e, d * leading + f)
                ts.linematrix = (0, 0)
        finally:
            device._len, device._last_y = length, last_y

    def render_contents(self, resources, streams, ctm=MATRIX_IDENTITY) -> None:
        self.init_resources(resources)
        self.init_state(ctm)
        self.execute(list_value(streams) or list(streams))

    def process_page(self, page: PDFPage) -> None:
        mediabox = [resolve1(v) for v in page.mediabox]
        if len(mediabox) != 4:
            mediabox = [0, 0, 612, 792]
        x0, y0, x1, y1 = mediabox
        rotate = page.rotate
        if rotate == 90:
            ctm = (0, -1, 1, 0, -y0, x1)
        elif rotate == 180:
            ctm = (-1, 0, 0, -1, x1, y1)
        elif rotate == 270:
            ctm = (0, 1, -1, 0, y1, -x0)
        else:
            ctm = (1, 0, 0, 1, -x0, -y0)
        self.device.begin_page(page, ctm)
        self.render_contents(page.resources, page.contents, ctm=ctm)
        self.device.end_page(page)


def _first(vals: list):
    return vals[0] if vals else None


def _open_document(data: bytes, password: bytes) -> PDFDocument:
    """Parse the xref chain and trailer of ``data`` and unlock it."""
    parser = PDFParser(data)
    doc = PDFDocument()
    parser.set_document(doc)
    doc.set_parser(parser)
    doc.initialize(password)
    return doc


def process_pdf(
    device,
    data: bytes,
    password: bytes = b"",
    page_start: int = 1,
    page_end: int | None = None,
    fast_window: bool = False,
) -> None:
    """Top entry point (pdfparse.lisp:2796-2816): parse → xref → pages →
    interpret each page into the device.

    ``page_start``/``page_end`` select a 1-based half-open page window for
    per-page-parallel extraction of huge documents: pages outside the window
    are walked (the tree iterator is cheap) but never interpreted, so the
    expensive content decode is confined to the window.

    ``fast_window=True`` (only valid when the document's /Count fields were
    validated — ``count_pdf_pages_validated``) skips whole pre-window
    subtrees via /Count instead of walking every page node: the walk cost
    drops from O(total pages) to O(window + tree breadth) per segment."""
    doc = _open_document(data, password)
    rsrcmgr = PDFResourceManager()
    interpreter = PDFPageInterpreter(rsrcmgr, device)
    if fast_window and page_end is not None:
        for _pageno, page in doc.get_pages_window(page_start, page_end):
            interpreter.process_page(page)
        return
    for pageno, page in enumerate(doc.get_pages(), 1):
        if pageno < page_start:
            continue
        if page_end is not None and pageno >= page_end:
            break
        interpreter.process_page(page)


def count_pdf_pages(data: bytes, password: bytes = b"") -> int:
    """Page count via xref + page-tree walk only — no content decode, so
    this probe is ~100x cheaper than extraction for content-heavy docs."""
    return sum(1 for _ in _open_document(data, password).get_pages())


def count_pdf_pages_validated(data: bytes, password: bytes = b"") -> tuple[int, bool]:
    """(n_pages, counts_ok) — the probe for the split planner: counts_ok
    means every /Pages node's /Count matched its actual subtree and no
    cycles exist, so segments may use the Count-skipping fast window walk."""
    return _open_document(data, password).count_pages_validated()
