"""PostScript/PDF tokenizer and object-stack parser.

Brand-new Python implementation of the token/object semantics documented in
SURVEY.md §2 P1/P2 (reference behavior: /root/reference/pdfparse.lisp:59-683).
Operates on real ``bytes`` end-to-end (the reference fakes bytes with latin-1
chars, pdfparse.lisp:2781-2794); token positions are byte offsets so the
reference's own golden token tests (pdfparse.lisp:691-743) port verbatim.

Two token sources share one branch table (``_TOKEN_BRANCHES``):

- ``nexttoken`` matches one token at a time; anything its fused regex does
  not cover falls through to the full scanner, the semantic authority.
- ``scan_tokens`` tokenizes a WHOLE buffer with one ``findall`` and returns
  the raw matches; it answers None when any byte is uncovered (comments,
  escaped or nested strings, '#' escapes, lone '>', malformed numbers,
  NUL), and the caller then hands the whole buffer to the per-token parser.
  The matches are the only intermediate form: their consumers
  (``pdfparser._assemble`` and the interpreter's show loop) resolve each
  one as they reach it, through one capped value cache (``_VALUE_CACHE``)
  and ``_token_value``.  Content streams use ``_CONTENT_TOKEN``: the same
  branches plus a show token (a simple string, at most one whitespace byte
  and a whole ``Tj`` keyword in one match) and a show line (a show token,
  exactly one more whitespace byte and a whole ``T*``: a text line of
  ``(s) Tj T*`` is one match), with no standalone ``BI``/``ID`` keyword, so
  an inline image is uncovered.  An integer too long for int() is dropped
  where it is resolved, as ``nexttoken`` drops it.  The caches change
  speed, never values.

Deviation from the reference, per SURVEY.md §5.2: ``false`` parses to boolean
False (the reference tests "true" twice and never matches false,
pdfparse.lisp:416-421).
"""

from __future__ import annotations

import binascii
import re

__all__ = [
    "PSLiteral",
    "PSKeyword",
    "LIT",
    "KWD",
    "PSEOF",
    "PSTypeError",
    "PSSyntaxError",
    "PSBaseParser",
    "PSStackParser",
    "dict_of_pairs",
    "scan_tokens",
    "KEYWORD_ARRAY_BEGIN",
    "KEYWORD_ARRAY_END",
    "KEYWORD_DICT_BEGIN",
    "KEYWORD_DICT_END",
    "KEYWORD_PROC_BEGIN",
    "KEYWORD_PROC_END",
]


class PSEOF(Exception):
    """End of token stream."""


class PSTypeError(Exception):
    pass


class PSSyntaxError(Exception):
    pass


class PSLiteral:
    """Interned PDF name object (``/Name``).  Reference: lit/litf util.lisp."""

    __slots__ = ("name",)
    _interned: dict[str, "PSLiteral"] = {}

    def __new__(cls, name: str) -> "PSLiteral":
        obj = cls._interned.get(name)
        if obj is None:
            obj = object.__new__(cls)
            obj.name = name
            cls._interned[name] = obj
        return obj

    def __repr__(self) -> str:  # pragma: no cover
        return "/%s" % self.name

    def __reduce__(self):
        return (PSLiteral, (self.name,))


class PSKeyword:
    """Interned PostScript keyword/operator token."""

    __slots__ = ("name",)
    _interned: dict[str, "PSKeyword"] = {}

    def __new__(cls, name: str) -> "PSKeyword":
        obj = cls._interned.get(name)
        if obj is None:
            obj = object.__new__(cls)
            obj.name = name
            cls._interned[name] = obj
        return obj

    def __repr__(self) -> str:  # pragma: no cover
        return "#%s" % self.name

    def __reduce__(self):
        return (PSKeyword, (self.name,))


def LIT(name: str) -> PSLiteral:
    return PSLiteral(name)


def KWD(name: str) -> PSKeyword:
    return PSKeyword(name)


KEYWORD_PROC_BEGIN = KWD("{")
KEYWORD_PROC_END = KWD("}")
KEYWORD_ARRAY_BEGIN = KWD("[")
KEYWORD_ARRAY_END = KWD("]")
KEYWORD_DICT_BEGIN = KWD("<<")
KEYWORD_DICT_END = KWD(">>")
KEYWORD_TRUE = KWD("true")
KEYWORD_FALSE = KWD("false")
KEYWORD_TJ = KWD("Tj")
KEYWORD_T_STAR = KWD("T*")

# Token caches: hot content streams repeat the same keywords/names millions
# of times; interning from raw bytes skips decode + __new__ per hit.  Size-
# capped so adversarial inputs can't balloon worker memory.
_TOKEN_CACHE_MAX = 4096
_KW_CACHE: dict[bytes, object] = {}
_LIT_CACHE: dict[bytes, object] = {}

# single-char operator tokens, preinterned
_KW1 = [PSKeyword(chr(c)) for c in range(256)]


def _bytes_except(excluded: bytes) -> bytes:
    """A regex class of every byte not in ``excluded``, spelled as ranges:
    sre matches a range class through a bitmap, about twice as fast as the
    equivalent negated class ``[^...]``."""
    ranges = []
    lo = 0
    for c in sorted(set(excluded)) + [256]:
        if c > lo:
            ranges.append(re.escape(bytes((lo,))) + b"-" + re.escape(bytes((c - 1,))))
        lo = c + 1
    return b"[" + b"".join(ranges) + b"]"


# A name or keyword runs until a delimiter or whitespace (regex \s for bytes).
_NAME_BYTE = _bytes_except(b"#/%[]()<>{} \t\n\r\x0b\x0c")

# Token branch patterns, shared by the per-token fast path (_SIMPLE_TOKEN)
# and the whole-buffer scanners (_BULK_TOKEN, _CONTENT_TOKEN).  Python 3.11 possessive
# quantifiers prevent the backtracking that would mis-split "12." into int 1
# + junk.  Branches deliberately cover ONLY cases whose semantics equal the
# full scanner's:
#   kw   letter-initial operator/keyword run
#   str  (...) with no escape, nesting, or unbalanced paren inside —
#        inner bytes returned as-is, exactly matching _parse_string (the
#        authority here): like the reference, neither scanner normalizes
#        raw CR/CRLF to LF inside literals as PDF 32000 7.3.4.2 mandates
#   int  "12", "+3", "-4" — not followed by '.' or another digit
#   flt  "12.", "12.5", ".5", "-.5" (a '.' with digits on at least one side)
#   lit  /Name with no '#' escape ahead
#   d2   dict delimiters
#   d1   array/proc delimiters
# No two branches can match at the same position, so their order only sets
# speed: each pattern tries the most common tokens of its buffers first.
_TOKEN_BRANCHES = (
    ("kw", rb"[A-Za-z]" + _NAME_BYTE + rb"*+"),
    ("str", rb"\(" + _bytes_except(b"()\\") + rb"*+\)"),
    ("int", rb"[+-]?+[0-9]++(?![.0-9])"),
    ("flt", rb"[+-]?+(?:[0-9]++\.[0-9]*+|\.[0-9]++)"),
    ("lit", rb"/" + _NAME_BYTE + rb"*+(?!\#)"),
    ("d2", rb"<<|>>"),
    ("d1", rb"[\[\]{}]"),
)
_SIMPLE_TOKEN = re.compile(
    rb"\s*+(?:"
    + rb"|".join(b"(?P<%s>%s)" % (name.encode(), pat) for name, pat in _TOKEN_BRANCHES)
    + rb")"
)


def _bulk_token(patterns) -> re.Pattern:
    """The whole-buffer pattern: ``patterns`` plus hex strings (tried after
    "<<"), without groups, so findall returns each token with its leading
    whitespace.  A hex string's closing '>' is consumed here while
    _parse_hexstring leaves it to the main dispatch, which pairs it with a
    following '>' into a dict end.  On a fully covered buffer the two agree:
    a run of k '>' after "<AB" gives k // 2 dict ends both ways when k is
    odd, and when k is even the bulk scan leaves a lone '>' uncovered."""
    return re.compile(rb"\s*+(?:" + rb"|".join(patterns) + rb"|<[0-9A-Fa-f\s]*+>)")


# Object bodies: names and integers, the commonest tokens of a dict, first.
_BULK_TOKEN = _bulk_token(dict(_TOKEN_BRANCHES)[name]
                          for name in ("lit", "int", "kw", "d2", "d1", "str", "flt"))
# Content streams: a simple string may run on through at most one
# whitespace byte and a whole "Tj" keyword (one show token, which
# _token_value reads as the string and Tj), and from there through exactly
# one more whitespace byte and a whole "T*" (one show line: the string, Tj
# and T*; "TjT*" would be one keyword, two whitespace bytes leave two
# tokens).  The keyword branch leaves a standalone BI or ID uncovered: an
# inline image needs byte positions, so its buffer goes whole to the
# per-token parser.  The string branch goes first: in text-heavy streams
# most tokens are show lines.
_KEYWORD_END = rb"(?!" + _NAME_BYTE + rb")"
_CONTENT_TOKEN = _bulk_token((
    # str, or a show token, or a show line
    _TOKEN_BRANCHES[1][1] + rb"(?:\s?Tj" + _KEYWORD_END + rb"(?:\sT\*" + _KEYWORD_END + rb")?+)?+",
    rb"(?!(?:BI|ID)" + _KEYWORD_END + rb")" + _TOKEN_BRANCHES[0][1],  # kw
    *(pat for _, pat in _TOKEN_BRANCHES[2:]),
))

# Character classes; byte-level equivalents of pdfparse.lisp:42-53.
_EOL = re.compile(rb"[\r\n]")
_SPC = re.compile(rb"\s")
_NONSPC = re.compile(rb"\S")
_HEX = re.compile(rb"[0-9a-fA-F]")
_END_LITERAL = re.compile(rb"[#/%\[\]()<>{}\s]")
_END_HEX_STRING = re.compile(rb"[^\s0-9a-fA-F]")
_END_NUMBER = re.compile(rb"[^0-9]")
_END_KEYWORD = re.compile(rb"[#/%\[\]()<>{}\s]")
_END_STRING = re.compile(rb"[()\\]")
_OCT_DIGIT = re.compile(rb"[0-7]")
_ESC_STRING = {
    ord("b"): 8,
    ord("t"): 9,
    ord("n"): 10,
    ord("f"): 12,
    ord("r"): 13,
    ord("("): 40,
    ord(")"): 41,
    ord("\\"): 92,
}
_NUMBER_START = frozenset(b"+-0123456789")
_KEYWORD_START = frozenset(b"abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ")


def _keyword(tok: bytes):
    """``true``/``false`` or the interned keyword for ``tok``, through _KW_CACHE."""
    val = _KW_CACHE.get(tok)
    if val is None:
        if tok == b"true":
            val = True
        elif tok == b"false":
            val = False
        else:
            val = KWD(tok.decode("latin-1"))
        if len(_KW_CACHE) < _TOKEN_CACHE_MAX:
            _KW_CACHE[tok] = val
    return val


def _literal(raw: bytes) -> PSLiteral:
    """The interned name for escape-free name bytes, through _LIT_CACHE."""
    lit = _LIT_CACHE.get(raw)
    if lit is None:
        lit = LIT(raw.decode("latin-1"))
        if len(_LIT_CACHE) < _TOKEN_CACHE_MAX:
            _LIT_CACHE[raw] = lit
    return lit


def _hex_bytes(digits: bytes) -> bytes:
    """Decode a hex string body: whitespace is ignored, digits pair up, and
    an odd trailing digit is parsed alone (pdfparse.lisp:514-538)."""
    raw = _SPC.sub(b"", digits)
    if len(raw) % 2:
        return binascii.unhexlify(raw[:-1]) + bytes((int(raw[-1:], 16),))
    return binascii.unhexlify(raw)


# Whole-buffer token values keyed by the raw match (leading whitespace
# included): numbers, names, keywords, true/false and delimiters.  Strings
# and show tokens are never cached.  Capped like _KW_CACHE.
_VALUE_CACHE: dict[bytes, object] = {}


def _token_value(raw: bytes):
    """Value of one _BULK_TOKEN or _CONTENT_TOKEN match; a show token gives
    the tuple (string, ``Tj``), a show line (string, ``Tj``, ``T*``).
    Raises ValueError on an integer too long for int() (the authority drops
    such a token)."""
    tok = raw.lstrip()
    c = tok[0]
    if c == 0x28:  # '(': a string ends on its ')', a show token on "Tj", a show line on "T*"
        c = tok[-1]
        if c == 0x29:
            return tok[1:-1]
        if c == 0x6A:
            return tok[1 : -3 if tok[-3] == 0x29 else -4], KEYWORD_TJ
        return tok[1 : -6 if tok[-6] == 0x29 else -7], KEYWORD_TJ, KEYWORD_T_STAR
    if c == 0x3C and tok != b"<<":
        return _hex_bytes(tok[1:-1])
    if c == 0x2F:  # '/'
        val = _literal(tok[1:])
    elif c in _KEYWORD_START:
        val = _keyword(tok)
    elif c == 0x3C:
        val = KEYWORD_DICT_BEGIN
    elif c == 0x3E:
        val = KEYWORD_DICT_END
    elif c in b"[]{}":
        val = _KW1[c]
    elif b"." in tok:
        val = float(tok)
    else:
        val = int(tok)
    if len(_VALUE_CACHE) < _TOKEN_CACHE_MAX:
        _VALUE_CACHE[raw] = val
    return val


def scan_tokens(data: bytes, pattern: re.Pattern = _BULK_TOKEN) -> list | None:
    """Every token of ``data`` in order, as raw ``pattern`` matches from one
    regex pass, or None when the per-token scanner must decide: some byte is
    outside the bulk grammar (comments, escaped or nested strings, '#'
    escapes, lone '>', malformed numbers, any other byte).

    Covered means the matches, which never overlap and each end on a
    non-space byte, add up to the buffer without its trailing whitespace;
    then they are exactly the tokens nexttoken would return, one after the
    other (a show token is two of them, a show line three).  Regex
    whitespace excludes NUL, so a NUL byte is never covered.
    """
    toks = pattern.findall(data)
    if sum(map(len, toks)) != len(data.rstrip()):
        return None
    return toks


class PSBaseParser:
    """Tokenizer over an in-memory byte buffer.

    The reference streams through a 4 KiB buffer (pdfparse.lisp:136-145); in
    the Spark engine document bytes always arrive fully in-row (SURVEY.md §4),
    so a single-buffer scanner with byte-offset positions is equivalent and
    faster.
    """

    def __init__(self, data: bytes):
        if not isinstance(data, (bytes, bytearray, memoryview)):
            raise TypeError("PSBaseParser requires bytes, got %r" % type(data))
        self.data = bytes(data)
        self.pos = 0

    # --- positioning -----------------------------------------------------
    def tell(self) -> int:
        return self.pos

    def seek(self, pos: int) -> None:
        self.pos = pos

    def nextline(self) -> tuple[int, bytes]:
        """Return (pos, line) where line includes its EOL (\\r, \\n or \\r\\n)."""
        data, pos = self.data, self.pos
        if pos >= len(data):
            raise PSEOF("nextline: EOF")
        m = _EOL.search(data, pos)
        if m is None:
            line = data[pos:]
            self.pos = len(data)
            return pos, line
        end = m.end()
        if data[m.start()] == 0x0D and end < len(data) and data[end] == 0x0A:
            end += 1
        line = data[pos:end]
        self.pos = end
        return pos, line

    def revreadlines(self):
        """Yield lines backwards from EOF (used to locate startxref)."""
        data = self.data
        pos = len(data)
        while pos > 0:
            nl = max(data.rfind(b"\n", 0, pos - 1), data.rfind(b"\r", 0, pos - 1))
            yield data[nl + 1 : pos]
            pos = nl + 1

    # --- tokenizer -------------------------------------------------------
    def nexttoken(self) -> tuple[int, object]:
        """Return the next (pos, token).

        Token values: int, float, bool, bytes (string/hexstring), PSLiteral,
        PSKeyword.  Comments are skipped.  Raises PSEOF at end of data.

        Fast path: one fused regex match covers the overwhelmingly common
        token shapes in content streams (numbers, escape-free names,
        keywords, escape-free flat strings, collection delimiters);
        everything else — escaped/nested strings,
        hexstrings, comments, '#' escapes, malformed numbers, EOF — falls
        through to the full scanner, which remains the semantic authority
        (the differential fuzz test pins fast == slow on arbitrary soup).
        """
        m = _SIMPLE_TOKEN.match(self.data, self.pos)
        if m is not None:
            g = m.lastgroup
            self.pos = m.end()
            start = m.start(g)
            tok = m.group(g)
            if g == "flt":
                return start, float(tok)
            if g == "int":
                try:
                    return start, int(tok)
                except ValueError:
                    # too many digits for int(): the full scanner drops it
                    self.pos = start
                    return self._nexttoken_slow()
            if g == "kw":
                val = _KW_CACHE.get(tok)
                return start, _keyword(tok) if val is None else val
            if g == "str":
                return start, tok[1:-1]
            if g == "lit":
                raw = tok[1:]
                lit = _LIT_CACHE.get(raw)
                return start, _literal(raw) if lit is None else lit
            if g == "d2":
                return start, KEYWORD_DICT_BEGIN if tok == b"<<" else KEYWORD_DICT_END
            return start, _KW1[tok[0]]  # d1
        return self._nexttoken_slow()

    def _nexttoken_slow(self) -> tuple[int, object]:
        data = self.data
        n = len(data)
        pos = self.pos
        while True:
            m = _NONSPC.search(data, pos)
            if m is None:
                self.pos = n
                raise PSEOF("nexttoken: EOF")
            j = m.start()
            c = data[j]
            if c == 0x25:  # '%' comment → skip to EOL
                m2 = _EOL.search(data, j + 1)
                pos = n if m2 is None else m2.start()
                if m2 is None:
                    self.pos = n
                    raise PSEOF("nexttoken: EOF in comment")
                continue
            if c == 0x2F:  # '/' literal name
                return self._parse_literal(j)
            if c in _NUMBER_START or c == 0x2E:  # number or '.'
                tok = self._parse_float(j, j + 1) if c == 0x2E else self._parse_number(j)
                if tok is not None:
                    return tok
                # reference drops unparseable numbers (ignore-errors, :389-404)
                pos = self.pos
                continue
            if c in _KEYWORD_START:
                return self._parse_keyword(j)
            if c == 0x28:  # '('
                return self._parse_string(j)
            if c == 0x3C:  # '<'
                if j + 1 < n and data[j + 1] == 0x3C:
                    self.pos = j + 2
                    return j, KEYWORD_DICT_BEGIN
                return self._parse_hexstring(j)
            if c == 0x3E:  # '>'
                if j + 1 < n and data[j + 1] == 0x3E:
                    self.pos = j + 2
                    return j, KEYWORD_DICT_END
                # lone '>' produces no token (pdfparse.lisp:531-538)
                pos = j + 1
                continue
            self.pos = j + 1
            return j, _KW1[c]

    def _parse_literal(self, start: int) -> tuple[int, object]:
        data = self.data
        n = len(data)
        i = start + 1
        m0 = _END_LITERAL.search(data, i)
        if m0 is not None and data[m0.start()] != 0x23:
            # fast path: no '#' escape — intern straight from the raw bytes
            j = m0.start()
            self.pos = j
            return start, _literal(data[i:j])
        parts = bytearray()
        while True:
            m = _END_LITERAL.search(data, i)
            if m is None:
                parts += data[i:n]
                self.pos = n
                break
            j = m.start()
            parts += data[i:j]
            if data[j] == 0x23:  # '#' hex escape, up to 2 hex digits
                k = j + 1
                hexd = bytearray()
                while k < n and len(hexd) < 2 and _HEX.match(data, k):
                    hexd.append(data[k])
                    k += 1
                if hexd:
                    parts.append(int(hexd, 16))
                i = k
                continue
            self.pos = j
            break
        return start, LIT(parts.decode("latin-1"))

    def _parse_number(self, start: int) -> tuple[int, object] | None:
        """The number at ``start``, or None (pos past it) when unparseable."""
        data = self.data
        m = _END_NUMBER.search(data, start + 1)
        if m is None:
            j = len(data)
        else:
            j = m.start()
            if data[j] == 0x2E:  # '.' → continue as float
                return self._parse_float(start, j + 1)
        self.pos = j
        tok = data[start:j]
        try:
            return start, int(tok)
        except ValueError:
            return None

    def _parse_float(self, start: int, cont: int) -> tuple[int, object] | None:
        data = self.data
        m = _END_NUMBER.search(data, cont)
        j = len(data) if m is None else m.start()
        self.pos = j
        tok = data[start:j]
        try:
            return start, float(tok)
        except ValueError:
            return None

    def _parse_keyword(self, start: int) -> tuple[int, object]:
        data = self.data
        m = _END_KEYWORD.search(data, start + 1)
        j = len(data) if m is None else m.start()
        self.pos = j
        return start, _keyword(data[start:j])

    def _parse_string(self, start: int) -> tuple[int, bytes]:
        data = self.data
        n = len(data)
        i = start + 1
        paren = 1
        out = bytearray()
        while True:
            m = _END_STRING.search(data, i)
            if m is None:
                out += data[i:n]
                self.pos = n
                break
            j = m.start()
            out += data[i:j]
            c = data[j]
            if c == 0x5C:  # backslash escape
                i = j + 1
                octd = bytearray()
                while i < n and len(octd) < 3 and _OCT_DIGIT.match(data, i):
                    octd.append(data[i])
                    i += 1
                if octd:
                    # PDF 32000 7.3.4.2: "high-order overflow shall be
                    # ignored" — \777 is byte 0xFF.  (The reference feeds
                    # (code-char 511) into its 8-bit string here,
                    # pdfparse.lisp:480 — a bug per its own byte
                    # discipline; we follow the spec, SURVEY.md §5.2.)
                    out.append(int(octd, 8) & 0xFF)
                    continue
                if i < n:
                    esc = _ESC_STRING.get(data[i])
                    if esc is not None:
                        out.append(esc)
                    # any other escaped byte (incl. EOL) is dropped
                    i += 1
                continue
            if c == 0x28:  # nested '('
                paren += 1
                out.append(c)
                i = j + 1
                continue
            # c == ')'
            paren -= 1
            if paren != 0:
                out.append(c)
                i = j + 1
                continue
            self.pos = j + 1
            break
        return start, bytes(out)

    def _parse_hexstring(self, start: int) -> tuple[int, bytes]:
        data = self.data
        i = start + 1
        m = _END_HEX_STRING.search(data, i)
        j = len(data) if m is None else m.start()
        # leave pos at the terminator: a lone '>' is consumed tokenlessly by
        # the main dispatch (pdfparse.lisp:531-538), and '>>' still forms a
        # dict-end keyword there
        self.pos = j
        return start, _hex_bytes(data[i:j])


def dict_of_pairs(items: list) -> dict:
    """The dict ``<< k1 v1 k2 v2 ... >>`` builds.  Raises PSSyntaxError on
    an odd item count.  Unhashable keys (an array or dict in key position of
    a malformed << >>) are skipped leniently: a TypeError is not a PS* error
    and would abort the whole document instead of degrading (the
    reference's hash tables accept any key)."""
    if len(items) % 2 != 0:
        raise PSSyntaxError("invalid dictionary construct: %r" % items)
    d = {}
    for i in range(0, len(items), 2):
        try:
            d[items[i]] = items[i + 1]
        except TypeError:
            continue
    return d


class PSStackParser(PSBaseParser):
    """Assembles tokens into objects: arrays, dicts, procedures, scalars.

    Reference: ps-stack-parser / parser-nextobject (pdfparse.lisp:551-683).
    Dict keys are PSLiteral; dicts are plain Python dicts.
    """

    def __init__(self, data: bytes):
        super().__init__(data)
        self.reset()

    def reset(self) -> None:
        self.context: list[tuple[int, str | None, list]] = []
        self.curtype: str | None = None
        self.curstack: list[tuple[int, object]] = []
        self.results: list[tuple[int, object]] = []

    def seek(self, pos: int) -> None:
        super().seek(pos)
        self.reset()

    # --- stack ops ---------------------------------------------------------
    def push(self, *objs: tuple[int, object]) -> None:
        self.curstack.extend(objs)

    def pop(self, n: int) -> list[tuple[int, object]]:
        if n == 0:
            return []
        objs = self.curstack[-n:]
        del self.curstack[-n:]
        return objs

    def popall(self) -> list[tuple[int, object]]:
        objs = self.curstack
        self.curstack = []
        return objs

    def add_results(self, *objs: tuple[int, object]) -> None:
        self.results.extend(objs)

    def start_type(self, pos: int, type_: str) -> None:
        self.context.append((pos, self.curtype, self.curstack))
        self.curtype = type_
        self.curstack = []

    def end_type(self, type_: str) -> tuple[int, list]:
        if self.curtype != type_:
            raise PSTypeError("type mismatch: %r != %r" % (self.curtype, type_))
        objs = [obj for (_, obj) in self.curstack]
        pos, self.curtype, self.curstack = self.context.pop()
        return pos, objs

    def flush(self) -> None:
        pass

    def do_keyword(self, pos: int, token: PSKeyword) -> None:
        """Default: keywords outside collections are dropped (base stack parser)."""

    # --- object assembly -----------------------------------------------------
    _SCALARS = frozenset((int, float, bool, bytes, PSLiteral))

    def nextobject(self) -> tuple[int, object]:
        """Return the next (pos, object); raises PSEOF at end."""
        # NOTE: self.context/self.results/self.curstack are REPLACED by
        # reset() (do_keyword may seek) — always read them via self.
        scalars = self._SCALARS
        nexttoken = self.nexttoken
        while not self.results:
            pos, token = nexttoken()
            if token.__class__ in scalars:
                self.curstack.append((pos, token))
                if not self.context:
                    self.flush()
                continue
            if token is KEYWORD_ARRAY_BEGIN:
                self.start_type(pos, "a")
            elif token is KEYWORD_ARRAY_END:
                try:
                    self.push(self.end_type("a"))
                except PSTypeError:
                    pass  # lenient (reference: *strict* off)
            elif token is KEYWORD_DICT_BEGIN:
                self.start_type(pos, "d")
            elif token is KEYWORD_DICT_END:
                try:
                    pos_, objs = self.end_type("d")
                    self.push((pos_, dict_of_pairs(objs)))
                except PSTypeError:
                    pass
            elif token is KEYWORD_PROC_BEGIN:
                self.start_type(pos, "p")
            elif token is KEYWORD_PROC_END:
                try:
                    self.push(self.end_type("p"))
                except PSTypeError:
                    pass
            else:
                self.do_keyword(pos, token)
            if not self.context:
                self.flush()
        obj = self.results.pop(0)
        return obj
