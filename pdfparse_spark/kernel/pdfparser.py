"""PDF file parser, xref tables/streams, content-stream parser.

Reference behavior: /root/reference/pdfparse.lisp:1058-1292 (xrefs),
1781-1955 (parsers), 2149-2249 (content parser + inline images); SURVEY.md
§2 P2/P3/P5.

Documented deviations (reference mistranslations of pdfminer, resolved in
favor of PDF-spec semantics so fixture goldens are self-consistent):
- xref chain order: newest xref section first, so incremental updates
  override older objects (the reference's `push` builds oldest-first,
  pdfparse.lisp:1901-1912).
- xref-stream field 1 unpacks ent[0:fl1] (the reference's subseq start of 9
  at pdfparse.lisp:1277 cannot work for any real W array).

Whole-buffer fast path: a page's content streams and an indirect object's
body are tokenized in one regex pass (``psparse.scan_tokens``), with
``nextobject`` kept as the authority.  The raw matches are the only
intermediate form: ``_assemble`` resolves each one as it reaches it, and
for the golden device the interpreter's show loop consumes a page's matches
directly (``PDFContentParser.tokens``), handing its token iterator to
``_assemble`` at a collection opener.  A content stream goes whole to the
per-token path when the pass does not cover it: any byte outside the
grammar, and ``BI``/``ID``, which the content pattern leaves uncovered
(inline images need byte positions).  That path feeds ``nexttoken`` values
into the same ``_assemble``.  So the path is decided before the first
operator runs.  An object body falls back to ``nextobject`` on any
uncovered byte, anything but a strict ``N G obj`` header naming the object,
an ``endobj`` not standing as its own token, ``obj``/``xref``/``startxref``
in the body, ``R`` over anything but two ints, an odd dict, an open
collection at ``endobj`` and an empty stack.  A stream object takes the fast
path too (its data sliced as ``_capture_stream`` captures it) when its dict
is the only value before a ``stream`` keyword of its own, ``/Length`` is a
direct non-negative int, the xref was not rebuilt by the fallback scan, and
``endstream``, whitespace and ``endobj`` follow the data; any other stream
object falls back to ``nextobject`` and ``_capture_stream``.
"""

from __future__ import annotations

import re
from itertools import chain

from .psparse import (
    KEYWORD_ARRAY_BEGIN,
    KEYWORD_ARRAY_END,
    KEYWORD_DICT_BEGIN,
    KEYWORD_DICT_END,
    KEYWORD_PROC_BEGIN,
    KEYWORD_PROC_END,
    KWD,
    LIT,
    PSEOF,
    PSKeyword,
    PSStackParser,
    PSSyntaxError,
    PSTypeError,
    _CONTENT_TOKEN,
    _VALUE_CACHE,
    _token_value,
    dict_of_pairs,
    scan_tokens,
)
from .pdftypes import (
    PDFObjRef,
    PDFStream,
    dict_value,
    int_value,
    stream_value,
)

__all__ = [
    "PDFNoValidXRef",
    "PDFXRef",
    "PDFXRefStream",
    "PDFParser",
    "PDFStreamParser",
    "PDFContentParser",
]

KEYWORD_R = KWD("R")
KEYWORD_NULL = KWD("null")
KEYWORD_OBJ = KWD("obj")
KEYWORD_ENDOBJ = KWD("endobj")
KEYWORD_STREAM = KWD("stream")
KEYWORD_XREF = KWD("xref")
KEYWORD_STARTXREF = KWD("startxref")
KEYWORD_TRAILER = KWD("trailer")
KEYWORD_BI = KWD("BI")
KEYWORD_ID = KWD("ID")
KEYWORD_EI = KWD("EI")

LITERAL_XREFSTM = LIT("XRefStm")
LITERAL_PREV = LIT("Prev")
LITERAL_SIZE = LIT("Size")
LITERAL_INDEX = LIT("Index")
LITERAL_W = LIT("W")
LITERAL_LENGTH = LIT("Length")


# Object assembly: what a keyword does to the object stack.  "a"/"d"/"p"
# open an array/dict/proc, "/a"/"/d"/"/p" close one, "i" opens an inline
# image dict that "ID" closes, "R" and "null" are the indirect-object
# keywords, and "!" hands the whole buffer back to the per-token parser.
# A content stream's whole-buffer tokens take _COLLECTIONS: its pattern
# leaves BI/ID uncovered.
_COLLECTIONS = {
    KEYWORD_ARRAY_BEGIN: "a",
    KEYWORD_ARRAY_END: "/a",
    KEYWORD_DICT_BEGIN: "d",
    KEYWORD_DICT_END: "/d",
    KEYWORD_PROC_BEGIN: "p",
    KEYWORD_PROC_END: "/p",
}
# content streams, per token
_INLINE_ACTIONS = {**_COLLECTIONS, KEYWORD_BI: "i", KEYWORD_ID: "ID"}
_OBJECT_ACTIONS = {
    **_COLLECTIONS,
    KEYWORD_R: "R",
    KEYWORD_NULL: "null",
    KEYWORD_OBJ: "!",
    KEYWORD_XREF: "!",
    KEYWORD_STARTXREF: "!",
}


def _same(value):
    """The ``lookup`` of values that need no conversion (``nexttoken``'s)."""
    return value


def _assemble(tokens, actions: dict, out: list, lookup, doc=None, open_ok: bool = True,
              inline_data=None, opened: str | None = None) -> bool:
    """Append to ``out`` the top-level objects ``tokens`` assemble into, as
    the per-token parser builds them (positions dropped): stray closers are
    dropped, and collections still open at the end are dropped when
    ``open_ok``.  ``lookup`` gives a token's value, or None when
    ``_token_value`` must convert the raw match: ``_VALUE_CACHE.get`` for
    ``scan_tokens`` matches, ``_same`` for ``nexttoken`` values.  A show
    token stands for its string and ``Tj``, a show line for its string,
    ``Tj`` and ``T*``; an integer too long for int() is dropped, as
    ``nexttoken`` drops it.  An ``ID`` closing a ``BI`` dict
    appends the inline image, its bytes from ``inline_data()``, and ``EI``;
    an odd inline dict and an ``ID`` without ``BI`` are dropped.  An odd
    dict raises PSSyntaxError, with the objects before it already in
    ``out``.  With ``opened`` ("a", "d" or "p"), a collection of that type
    is open before the first token, and the call returns once it closes:
    the interpreter's show loop hands its token iterator here at an opener.
    False hands the buffer back to the per-token parser: a "!" keyword,
    ``R`` over anything but two ints, or an open collection when not
    ``open_ok``."""
    cur = out if opened is None else []
    curtype = opened
    frames: list = [] if opened is None else [(None, out)]  # (enclosing type, enclosing items)
    get = actions.get
    for tok in tokens:
        v = lookup(tok)
        if v is None:
            try:
                v = _token_value(tok)
            except ValueError:
                continue
            if v.__class__ is tuple:  # a show token or show line: its string, Tj (and T*)
                cur += v
                continue
        act = get(v) if v.__class__ is PSKeyword else None
        if act is None:
            cur.append(v)
        elif act[0] == "/":
            if act[1] != curtype:
                continue  # stray closer (lenient, nextobject parity)
            items = cur
            curtype, cur = frames.pop()
            cur.append(dict_of_pairs(items) if act == "/d" else items)
            if opened and not frames:
                return True
        elif act == "R":
            if len(cur) < 2 or cur[-1].__class__ is not int or cur[-2].__class__ is not int:
                return False
            objid = cur[-2]
            del cur[-2:]
            cur.append(PDFObjRef(doc, objid))
        elif act == "null":
            cur.append(None)
        elif act == "!":
            return False
        elif act == "ID":
            if curtype != "i":
                continue  # ID without BI (do_keyword parity)
            items = cur
            curtype, cur = frames.pop()
            if len(items) % 2 == 0:
                d = {items[i]: items[i + 1] for i in range(0, len(items), 2)}
                cur.append(PDFStream(d, inline_data()))
                cur.append(KEYWORD_EI)
        else:
            frames.append((curtype, cur))
            curtype = act
            cur = []
    return open_ok or not frames


def _assembled(tokens, actions: dict, lookup, inline_data=None):
    """An iterator over the objects ``_assemble`` builds from ``tokens``; an
    assembly error (PSSyntaxError for an odd dict, TypeError for an
    unhashable inline-image key) comes out of it after the objects before
    it, as it does from ``nextobject``."""
    objs: list = []
    try:
        _assemble(tokens, actions, objs, lookup, inline_data=inline_data)
    except Exception as exc:  # not swallowed: raised once the consumer reaches it
        return chain(objs, _raising(exc))
    return iter(objs)


def _raising(exc: Exception):
    """An iterator that raises ``exc`` when first advanced."""
    raise exc
    yield  # makes this a generator: the raise waits for the first next()


# "N G obj" with both numbers plain digits and "obj" a whole keyword
_OBJ_HEADER = re.compile(rb"\s*+([0-9]++)\s++([0-9]++)\s++obj(?![^#/%\[\]()<>{}\s])")
# "endobj" as a token of its own: the byte before ends the previous token
# without joining it (after a '/' it would be a name, after a letter or
# digit part of a keyword or number), and the keyword ends after it
_ENDOBJ = re.compile(rb"(?<=[\s()<>\[\]{}])endobj(?![^#/%\[\]()<>{}\s])")
# the "stream" keyword as a token of its own after a complete value, and the
# rest of its line through the EOL, as nextline reads it ("\r\n" is one EOL)
_STREAM_LINE = re.compile(rb"(?<=[\s)>\]}])stream(?![^#/%\[\]()<>{}\s])[^\r\n]*+(?:\r\n?|\n)")
_ENDSTREAM_ENDOBJ = re.compile(rb"endstream\s++endobj(?![^#/%\[\]()<>{}\s])")


class PDFNoValidXRef(Exception):
    pass


def nunpack(s: bytes, default: int = 0) -> int:
    """Big-endian unsigned int of arbitrary (small) width."""
    if not s:
        return default
    return int.from_bytes(s, "big")


class PDFXRef:
    """Classic xref table (pdfparse.lisp:1078-1189)."""

    def __init__(self):
        self.offsets: dict[int, tuple[int | None, int]] = {}
        self.trailer: dict = {}

    def load(self, parser: "PDFParser") -> None:
        while True:
            try:
                pos, line = parser.nextline()
            except PSEOF:
                raise PDFNoValidXRef("unexpected EOF in xref table")
            if not line.strip():
                continue
            if line.startswith(b"trailer"):
                parser.seek(pos)
                break
            f = line.strip().split(b" ")
            if len(f) != 2:
                raise PDFNoValidXRef("trailer not found: line=%r" % line)
            start, nobjs = int(f[0]), int(f[1])
            for objid in range(start, start + nobjs):
                try:
                    _, line = parser.nextline()
                except PSEOF:
                    raise PDFNoValidXRef("unexpected EOF in xref entries")
                f = line.strip().split(b" ")
                if len(f) != 3:
                    raise PDFNoValidXRef("invalid xref format: line=%r" % line)
                offset, genno, use = f
                if use == b"n":
                    self.offsets[objid] = (None, int(offset))
        self.load_trailer(parser)

    def load_trailer(self, parser: "PDFParser") -> None:
        try:
            _, kwd = parser.nexttoken()
            assert kwd is KEYWORD_TRAILER, "expected trailer, got %r" % (kwd,)
            _, dic = parser.nextobject()
        except PSEOF:
            x = parser.pop(1)
            if not x:
                raise PDFNoValidXRef("unexpected EOF - no trailer")
            dic = x[0][1]
        self.trailer.update(dict_value(dic))

    def load_fallback(self, parser: "PDFParser") -> None:
        """Brute-force scan for 'N G obj' patterns (pdfparse.lisp:1153-1174)."""
        parser.seek(0)
        pat = re.compile(rb"^(\d+)\s+(\d+)\s+obj\b")
        while True:
            try:
                pos, line = parser.nextline()
            except PSEOF:
                break
            if line.startswith(b"trailer"):
                parser.seek(pos)
                self.load_trailer(parser)
                break
            m = pat.match(line)
            if m:
                self.offsets[int(m.group(1))] = (None, pos)

    def get_trailer(self) -> dict:
        return self.trailer

    def get_pos(self, objid: int) -> tuple[int | None, int]:
        if objid not in self.offsets:
            raise KeyError(objid)
        return (None, self.offsets[objid][1])


class PDFXRefStream:
    """PDF 1.5 cross-reference stream (pdfparse.lisp:1191-1292)."""

    def __init__(self):
        self.data: bytes | None = None
        self.entlen = 0
        self.fl1 = self.fl2 = self.fl3 = 0
        self.ranges: list[tuple[int, int]] = []
        self.trailer: dict = {}

    def load(self, parser: "PDFParser") -> None:
        parser.nexttoken()  # objid
        parser.nexttoken()  # genno
        parser.nexttoken()  # 'obj'
        _, stream = parser.nextobject()
        if not isinstance(stream, PDFStream):
            raise PDFNoValidXRef("invalid xref stream spec")
        # /Index, /W and /Size must be DIRECT objects here: xref loading is
        # what makes indirect references resolvable in the first place, so
        # a reference (or any wrong type) is treated as an invalid xref —
        # PDFNoValidXRef routes read_xref to the brute-force fallback scan
        # instead of a TypeError escaping and failing the whole document
        def _direct_list(v, what: str) -> list:
            if not isinstance(v, list) or any(isinstance(x, PDFObjRef) for x in v):
                raise PDFNoValidXRef("invalid %s: %r" % (what, v))
            return v

        size_raw = stream.get(LITERAL_SIZE)
        if isinstance(size_raw, PDFObjRef):
            raise PDFNoValidXRef("indirect /Size in xref stream")
        size = int_value(size_raw)
        index = stream.get(LITERAL_INDEX)
        if index is None:
            index = [0, size]
        index = _direct_list(index, "/Index")
        if len(index) % 2 != 0:
            raise PDFNoValidXRef("invalid /Index length")
        self.ranges = [
            (int_value(index[i]), int_value(index[i + 1]))
            for i in range(0, len(index), 2)
        ]
        w = [int_value(v) for v in _direct_list(stream.get(LITERAL_W, []), "/W")]
        if len(w) != 3:
            raise PDFNoValidXRef("invalid /W array: %r" % (w,))
        self.fl1, self.fl2, self.fl3 = w
        self.entlen = self.fl1 + self.fl2 + self.fl3
        self.data = stream.get_data()
        self.trailer = stream.attrs

    def get_trailer(self) -> dict:
        return self.trailer

    def get_pos(self, objid: int) -> tuple[int | None, int]:
        offset = 0
        found = False
        for start, nobjs in self.ranges:
            if start <= objid < start + nobjs:
                offset += objid - start
                found = True
                break
            offset += nobjs
        if not found:
            raise KeyError(objid)
        i = offset * self.entlen
        ent = self.data[i : i + self.entlen]
        f1 = nunpack(ent[: self.fl1], 1)
        if f1 == 1:  # in-use: f2 = byte offset
            return (None, nunpack(ent[self.fl1 : self.fl1 + self.fl2]))
        if f1 == 2:  # in ObjStm: f2 = container objid, f3 = index
            return (
                nunpack(ent[self.fl1 : self.fl1 + self.fl2]),
                nunpack(ent[self.fl1 + self.fl2 :]),
            )
        raise KeyError(objid)  # type 0 = free


class PDFParser(PSStackParser):
    """Whole-file parser: xref location + object/stream capture
    (pdfparse.lisp:1781-1955)."""

    def __init__(self, data: bytes):
        super().__init__(data)
        self.doc = None
        self.fallback = False

    def set_document(self, doc) -> None:
        self.doc = doc

    def do_keyword(self, pos: int, token: PSKeyword) -> None:
        if token is KEYWORD_XREF or token is KEYWORD_STARTXREF:
            self.add_results(*self.pop(1))
        elif token is KEYWORD_ENDOBJ:
            self.add_results(*self.pop(4))
        elif token is KEYWORD_NULL:
            self.push((pos, None))
        elif token is KEYWORD_R:
            self._push_ref(pos)
        elif token is KEYWORD_STREAM:
            self._capture_stream(pos)
        else:
            self.push((pos, token))

    def _push_ref(self, pos: int) -> None:
        """``N G R``: the two operands become a reference; dropped unless ints."""
        vals = self.pop(2)
        try:
            objid, genno = (int(v[1]) for v in vals)
            self.push((pos, PDFObjRef(self.doc, objid)))
        except (TypeError, ValueError):
            pass

    def object_stack_fast(self, pos: int, objid: int) -> list | None:
        """The object stack at ``endobj`` for object ``objid`` at ``pos``,
        from one whole-buffer scan of its body, or None when nextobject
        must parse it.  The fast path takes only a strict ``N G obj``
        header naming ``objid``; then either a body with no ``stream``
        before the first ``endobj``, that ``endobj`` standing as a token
        of its own, or a stream object (``_stream_fast``)."""
        data = self.data
        m = _OBJ_HEADER.match(data, pos)
        if m is None or int(m.group(1)) != objid:
            return None
        start = m.end()
        end = data.find(b"endobj", start)
        kw = data.find(b"stream", start, end if end >= 0 else len(data))
        if kw >= 0:
            return self._stream_fast(start, kw, objid, int(m.group(2)))
        if end < 0 or not _ENDOBJ.match(data, end):
            return None
        return self._object_values(data[start:end]) or None

    def _object_values(self, body: bytes) -> list | None:
        """The top-level values of an object body from one scan, or None
        when the scan does not cover it or ``_assemble`` hands it back."""
        tokens = scan_tokens(body)
        if tokens is None:
            return None
        out: list = []
        try:
            if not _assemble(tokens, _OBJECT_ACTIONS, out, _VALUE_CACHE.get, self.doc,
                             open_ok=False):
                return None
        except PSSyntaxError:
            return None  # odd dict
        return out

    def _stream_fast(self, start: int, kw: int, objid: int, genno: int) -> list | None:
        """``[stream]`` for ``N G obj << … >> stream … endstream endobj``
        whose body starts at ``start`` and whose first ``stream`` bytes are
        at ``kw``, as ``_capture_stream`` builds it; None unless the dict is
        the only value before a ``stream`` keyword standing as a token of
        its own, ``/Length`` is a direct non-negative int (0 when absent),
        the xref was not rebuilt by the fallback scan, and ``endstream``,
        whitespace and ``endobj`` follow the data.  The data runs from the
        end of the ``stream`` line to the first ``endstream`` at or after
        ``/Length`` bytes into it."""
        data = self.data
        line = _STREAM_LINE.match(data, kw)
        if self.fallback or line is None:
            return None
        out = self._object_values(data[start:kw])
        if out is None or len(out) != 1 or out[0].__class__ is not dict:
            return None
        dic = out[0]
        length = dic.get(LITERAL_LENGTH, 0)
        if length.__class__ is not int or length < 0:
            return None
        body = line.end()
        stop = data.find(b"endstream", body + length)
        if stop < 0 or not _ENDSTREAM_ENDOBJ.match(data, stop):
            return None
        decipher = self.doc.decipher if self.doc is not None else None
        stream = PDFStream(dic, data[body:stop], decipher)
        stream.set_objid(objid, genno)
        return [stream]

    def _capture_stream(self, kw_pos: int) -> None:
        popped = self.pop(1)
        dic = dict_value(popped[0][1]) if popped else {}
        objlen = 0
        if not self.fallback:
            # a negative /Length would seek back into the 'stream' line
            objlen = max(0, int_value(dic.get(LITERAL_LENGTH, 0)))
        self.seek(kw_pos)
        try:
            _, line = self.nextline()  # 'stream\r\n'
        except PSEOF:
            return
        pos = kw_pos + len(line)
        data = bytearray(self.data[pos : pos + objlen])
        self.seek(pos + objlen)
        # tolerate wrong /Length: extend until the endstream keyword
        while True:
            try:
                _, line = self.nextline()
            except PSEOF:
                break
            i = line.find(b"endstream")
            if i >= 0:
                objlen += i
                data += line[:i]
                break
            objlen += len(line)
            data += line
        self.seek(pos + objlen)
        decipher = self.doc.decipher if self.doc is not None else None
        self.push((pos, PDFStream(dic, bytes(data), decipher)))

    # --- xref loading ------------------------------------------------------
    def find_xref(self) -> int:
        prev = None
        for line in self.revreadlines():
            line = line.strip()
            if line == b"startxref":
                break
            if line:
                prev = line
        else:
            raise PDFNoValidXRef("startxref not found")
        if prev is None:
            raise PDFNoValidXRef("no offset after startxref")
        try:
            return int(prev)
        except ValueError:
            raise PDFNoValidXRef("bad startxref offset: %r" % prev)

    def read_xref_from(self, start: int, xrefs: list, _seen: set | None = None) -> None:
        # /Prev chains in the wild are short; a crafted self-referential
        # Prev would otherwise recurse to the interpreter limit re-parsing
        # the same section each level
        if _seen is None:
            _seen = set()
        if start in _seen:
            return
        _seen.add(start)
        self.seek(start)
        try:
            pos, token = self.nexttoken()
        except PSEOF:
            raise PDFNoValidXRef("unexpected EOF at xref offset")
        if isinstance(token, int) and not isinstance(token, bool):
            # xref stream: "N G obj <<...>> stream"
            self.seek(pos)
            xref = PDFXRefStream()
            xref.load(self)
        else:
            if token is KEYWORD_XREF:
                self.nextline()
            xref = PDFXRef()
            xref.load(self)
        xrefs.append(xref)
        trailer = xref.get_trailer()
        if LITERAL_XREFSTM in trailer:
            self.read_xref_from(int_value(trailer[LITERAL_XREFSTM]), xrefs, _seen)
        if LITERAL_PREV in trailer:
            self.read_xref_from(int_value(trailer[LITERAL_PREV]), xrefs, _seen)

    def read_xref(self) -> list:
        try:
            xrefs: list = []
            self.read_xref_from(self.find_xref(), xrefs)
            if not xrefs:
                raise PDFNoValidXRef("empty xref chain")
            return xrefs
        except (PDFNoValidXRef, PSEOF, ValueError):
            self.fallback = True
            xref = PDFXRef()
            xref.load_fallback(self)
            return [xref]


def _flush_results(self) -> None:
    """Top-level objects are results as soon as they are complete."""
    if self.curstack:
        self.results.extend(self.curstack)
        self.curstack = []


class PDFStreamParser(PDFParser):
    """Parser for ObjStm contents: keywords flow through, R still resolves
    (pdfparse.lisp:1934-1955)."""

    flush = _flush_results

    def do_keyword(self, pos: int, token: PSKeyword) -> None:
        if token is KEYWORD_R:
            self._push_ref(pos)
        else:
            self.push((pos, token))


_EI_TRAIL_EOL = re.compile(rb"(\r\n|[\r\n])\Z")


class PDFContentParser(PSStackParser):
    """Parses concatenated page content streams; token state spans stream
    boundaries (pdfparse.lisp:2149-2249).  Handles inline images BI/ID/EI."""

    def __init__(self, streams: list):
        data = b"".join([stream_value(s).get_data() for s in streams])
        super().__init__(data)

    flush = _flush_results

    def get_inline_data(self, pos: int, target: bytes = b"EI") -> tuple[int, bytes]:
        """Capture raw bytes until 'EI' followed by one whitespace char
        (pdfparse.lisp:2183-2220); strips the target + 1 trailing EOL."""
        data = self.data
        i = 0
        out = bytearray()
        p = pos
        n = len(data)
        tlen = len(target)
        while i <= tlen:
            if p >= n:
                break
            if i:
                c = data[p]
                out.append(c)
                p += 1
                if i >= tlen and c in b" \t\r\n":
                    i += 1
                elif i < tlen and c == target[i]:
                    i += 1
                else:
                    i = 0
            else:
                j = data.find(target[:1], p)
                if j == -1:
                    out += data[p:]
                    p = n
                else:
                    out += data[p : j + 1]
                    p = j + 1
                    i = 1
        self.pos = p
        captured = bytes(out[: len(out) - (tlen + 1)]) if len(out) > tlen else b""
        captured = _EI_TRAIL_EOL.sub(b"", captured)
        return pos, captured

    def tokens(self) -> tuple:
        """``(tokens, lookup)`` for the interpreter's show loop: the raw
        ``_CONTENT_TOKEN`` matches of the whole buffer from one regex pass,
        with ``_VALUE_CACHE.get``; or, for a buffer that pass does not cover
        (a byte outside its grammar, or an inline image's ``BI``/``ID``),
        the objects ``nexttoken`` values assemble into, with ``_same``.  The
        path is decided before the first token, never part way through.
        ``lookup`` is as for ``_assemble``, which the loop hands its token
        iterator at a collection opener."""
        tokens = scan_tokens(self.data, _CONTENT_TOKEN)
        if tokens is None:  # the whole buffer from nexttoken, one token at a time
            objects = _assembled(self._token_values(), _INLINE_ACTIONS, _same,
                                 inline_data=lambda: self.get_inline_data(self.pos + 1)[1])
            return objects, _same
        return tokens, _VALUE_CACHE.get

    def iter_objects(self):
        """Object iterator for the interpreter's plain dispatch: the objects
        ``nextobject`` would produce, minus the positions, which execute
        ignores.  ``nextobject`` stays the semantic authority; the
        differential tests pin this against it.  The objects are assembled
        up front by ``_assemble`` from the tokens of ``tokens()``.
        """
        tokens, lookup = self.tokens()
        return tokens if lookup is _same else _assembled(tokens, _COLLECTIONS, lookup)

    def _token_values(self):
        """The token values from ``nexttoken`` to the end of the buffer; a
        consumer may move ``pos`` between two of them (``ID`` data)."""
        nexttoken = self.nexttoken
        while True:
            try:
                _, token = nexttoken()
            except PSEOF:
                return
            yield token

    def do_keyword(self, pos: int, token: PSKeyword) -> None:
        if token is KEYWORD_BI:
            self.start_type(pos, "inline")
        elif token is KEYWORD_ID:
            try:
                _, objs = self.end_type("inline")
                if len(objs) % 2 != 0:
                    raise PSTypeError("invalid inline image dict: %r" % objs)
                d = {objs[i]: objs[i + 1] for i in range(0, len(objs), 2)}
                dpos, data = self.get_inline_data(pos + len(b"ID "))
                obj = PDFStream(d, data)
                self.push((dpos, obj))
                self.push((dpos, KEYWORD_EI))
            except PSTypeError:
                pass
        else:
            self.push((pos, token))
