"""Fonts, CMaps, glyph→Unicode decoding.

Reference behavior: /root/reference/pdfparse.lisp:2818-2901 (widths, Type1
header), 3351-3666 (font hierarchy), 3669-3808 (CMaps), 3810-3920 (ToUnicode
CMap parser), encodingdb.lisp (encodings); SURVEY.md §2 P6/§2.C.

Documented deviations, all mistranslations in the reference resolved in
favor of pdfminer/PDF-spec semantics (SURVEY.md §5.2 lists the policy):
- simple-font to_unichr falls back to cid2unicode when there is no ToUnicode
  map (the reference returns nothing at pdfparse.lisp:3459-3467, which would
  blank every simple font without /ToUnicode) and raises KeyError when the
  cid is unmapped so ``decode_text`` can emit the ``<CID x>`` fallback.
- endbfrange unpacks the range end from `e` (reference bug `(nunpack 3)`,
  pdfparse.lisp:3892).
- endcidrange compares code *prefixes* (reference compares suffixes,
  pdfparse.lisp:3856-3878).

Unsupported surface matches the reference: predefined CJK CMaps raise
CMapNotFound (only Identity-H/V exist, pdfparse.lisp:3800-3808); CFF/Type1C
glyph internals are not decoded (parsed-but-unused in the reference).
"""

from __future__ import annotations

import struct
from codecs import charmap_decode

from .psparse import KWD, LIT, PSEOF, PSKeyword, PSLiteral, PSStackParser
from .pdfparser import nunpack
from .pdftypes import (
    dict_value,
    int_value,
    list_value,
    num_value,
    resolve1,
    stream_value,
)
from .encodings import ENCODINGS, get_encoding, name2unicode

__all__ = [
    "CMapNotFound",
    "CMap",
    "IdentityCMap",
    "FileUnicodeMap",
    "CMapParser",
    "PDFFont",
    "PDFSimpleFont",
    "PDFType1Font",
    "PDFTrueTypeFont",
    "PDFType3Font",
    "PDFCIDFont",
    "get_font",
]

LITERAL_STANDARD_ENCODING = LIT("StandardEncoding")
LITERAL_FONT = LIT("Font")
LITERAL_TYPE1 = LIT("Type1")


class CMapNotFound(Exception):
    pass


class CMap:
    """code→CID byte trie (pdfparse.lisp:3669-3705)."""

    def __init__(self, code2cid: dict | None = None):
        self.code2cid: dict = code2cid if code2cid is not None else {}

    def is_vertical(self) -> bool:
        return False

    def use_cmap(self, other: "CMap") -> None:
        def copy(dst: dict, src: dict) -> None:
            for k, v in src.items():
                if isinstance(v, dict):
                    d: dict = {}
                    dst[k] = d
                    copy(d, v)
                else:
                    dst[k] = v

        copy(self.code2cid, other.code2cid)

    def decode(self, code: bytes) -> list[int]:
        """Walk the trie byte-by-byte; unmatched bytes reset to the root."""
        out = []
        root = self.code2cid
        d = root
        for c in code:
            nxt = d.get(c)
            if isinstance(nxt, int):
                out.append(nxt)
                d = root
            elif isinstance(nxt, dict):
                d = nxt
            else:
                d = root
        return out


class IdentityCMap:
    """Identity-H/V: 2-byte big-endian codes ARE the CIDs
    (pdfparse.lisp:3709-3723)."""

    def __init__(self, vertical: bool):
        self.vertical = vertical

    def is_vertical(self) -> bool:
        return self.vertical

    def decode(self, code: bytes) -> list[int]:
        n = len(code) // 2
        if n == 0:
            return []
        return list(struct.unpack(">%dH" % n, code[: n * 2]))


class FileCMap(CMap):
    """CMap built from an embedded CMap program (/Encoding streams)."""

    def __init__(self):
        super().__init__()
        self.attrs: dict = {}

    def is_vertical(self) -> bool:
        return bool(self.attrs.get(LIT("WMode"), 0))

    def set_attr(self, k, v) -> None:
        self.attrs[k] = v

    def add_code2cid(self, code: bytes, cid: int) -> None:
        d = self.code2cid
        for c in code[:-1]:
            d = d.setdefault(c, {})
            if not isinstance(d, dict):
                return
        d[code[-1]] = cid


class UnicodeMap:
    """CID→Unicode (pdfparse.lisp:3725-3741)."""

    def __init__(self, cid2unichr: dict | None = None):
        self.cid2unichr: dict[int, str] = cid2unichr if cid2unichr is not None else {}

    def get_unichr(self, cid: int) -> str:
        try:
            return self.cid2unichr[cid]
        except KeyError:
            raise KeyError(cid)


class FileUnicodeMap(UnicodeMap):
    """Built by the ToUnicode CMap parser; bfchar/bfrange targets are
    UTF-16BE byte strings or glyph names (pdfparse.lisp:3783-3795)."""

    def __init__(self):
        super().__init__()
        self.attrs: dict = {}

    def set_attr(self, k, v) -> None:
        self.attrs[k] = v

    def add_cid2unichr(self, cid: int, code) -> None:
        if isinstance(code, PSLiteral):
            try:
                self.cid2unichr[cid] = name2unicode(code)
            except KeyError:
                pass
        elif isinstance(code, bytes):
            self.cid2unichr[cid] = code.decode("utf-16be", "ignore")
        elif isinstance(code, int):
            self.cid2unichr[cid] = chr(code)


def get_predefined_cmap(name) -> "IdentityCMap":
    """Only Identity-H/V are supported, like the reference
    (pdfparse.lisp:3800-3804)."""
    if name is LIT("Identity-H"):
        return IdentityCMap(False)
    if name is LIT("Identity-V"):
        return IdentityCMap(True)
    raise CMapNotFound(getattr(name, "name", name))


def get_predefined_unicode_map(cidcoding, vertical: bool):
    """Predefined CID→Unicode maps ship with none of the reference either
    (pdfparse.lisp:3806-3808)."""
    raise CMapNotFound(cidcoding)


# largest cidrange/bfrange span expanded eagerly: 2-byte CID space.  A
# crafted <00000000> <ffffffff> range is a 4-billion-iteration bomb that
# would pin an executor; real CMaps stay within one 2-byte prefix.
_MAX_CMAP_RANGE = 1 << 16


class CMapParser(PSStackParser):
    """Parses embedded CMap programs (ToUnicode streams and /Encoding CMap
    streams); pdfparse.lisp:3810-3920."""

    def __init__(self, cmap, data: bytes):
        super().__init__(data)
        self.cmap = cmap
        self._in_cmap = False

    def run(self) -> None:
        try:
            self.nextobject()
        except PSEOF:
            pass

    def do_keyword(self, pos: int, token: PSKeyword) -> None:
        cmap = self.cmap
        name = token.name
        if name == "begincmap":
            self._in_cmap = True
            self.popall()
            return
        if name == "endcmap":
            self._in_cmap = False
            return
        if not self._in_cmap:
            return
        if name == "def":
            try:
                (_, k), (_, v) = self.pop(2)
                cmap.set_attr(k, v)
            except ValueError:
                pass
        elif name == "usecmap":
            try:
                (_, cmapname) = self.pop(1)[0]
                cmap.use_cmap(get_predefined_cmap(cmapname))
            except (IndexError, CMapNotFound, AttributeError):
                pass
        elif name in (
            "begincodespacerange",
            "endcodespacerange",
            "begincidrange",
            "begincidchar",
            "beginbfrange",
            "beginbfchar",
            "beginnotdefrange",
            "endnotdefrange",
        ):
            self.popall()
        elif name == "endcidrange":
            objs = [obj for (_, obj) in self.popall()]
            for i in range(0, len(objs) - 2, 3):
                s, e, cid = objs[i : i + 3]
                if not (
                    isinstance(s, bytes)
                    and isinstance(e, bytes)
                    and isinstance(cid, int)
                    and len(s) == len(e)
                ):
                    continue
                sprefix, eprefix = s[:-4], e[:-4]
                if sprefix != eprefix:
                    continue
                svar, evar = s[-4:], e[-4:]
                s1, e1 = nunpack(svar), nunpack(evar)
                if e1 - s1 >= _MAX_CMAP_RANGE:
                    continue  # decompression-bomb range — lenient skip
                vlen = len(svar)
                for k in range(e1 - s1 + 1):
                    x = sprefix + struct.pack(">L", s1 + k)[-vlen:]
                    cmap.add_code2cid(x, cid + k)
        elif name == "endcidchar":
            objs = [obj for (_, obj) in self.popall()]
            for i in range(0, len(objs) - 1, 2):
                code, cid = objs[i : i + 2]
                if isinstance(code, bytes) and isinstance(cid, bytes):
                    cmap.add_code2cid(code, nunpack(cid))
                elif isinstance(code, bytes) and isinstance(cid, int):
                    cmap.add_code2cid(code, cid)
        elif name == "endbfrange":
            objs = [obj for (_, obj) in self.popall()]
            for i in range(0, len(objs) - 2, 3):
                s, e, code = objs[i : i + 3]
                if not (
                    isinstance(s, bytes)
                    and isinstance(e, bytes)
                    and len(s) == len(e)
                ):
                    continue
                s1, e1 = nunpack(s), nunpack(e)
                if e1 - s1 >= _MAX_CMAP_RANGE:
                    continue  # decompression-bomb range — lenient skip
                if isinstance(code, list):
                    for k, c in zip(range(e1 - s1 + 1), code):
                        cmap.add_cid2unichr(s1 + k, c)
                elif isinstance(code, bytes):
                    var = code[-4:]
                    base = nunpack(var)
                    prefix = code[:-4]
                    vlen = len(var)
                    for k in range(e1 - s1 + 1):
                        x = prefix + struct.pack(">L", base + k)[-vlen:]
                        cmap.add_cid2unichr(s1 + k, x)
        elif name == "endbfchar":
            objs = [obj for (_, obj) in self.popall()]
            for i in range(0, len(objs) - 1, 2):
                cid, code = objs[i : i + 2]
                if isinstance(cid, bytes) and isinstance(code, (bytes, PSLiteral)):
                    cmap.add_cid2unichr(nunpack(cid), code)
        else:
            self.push((pos, token))


# --- TrueType 'cmap' table → UnicodeMap (pdfparse.lisp:3214-3346) ------------


class TrueTypeFont:
    def __init__(self, name, data: bytes):
        self.name = name
        self.data = data
        self.tables: dict[bytes, tuple[int, int]] = {}
        if len(data) < 12:
            raise CMapNotFound("truncated TTF")
        (self.fonttype,) = struct.unpack(">4s", data[0:4])
        (ntables,) = struct.unpack(">H", data[4:6])
        p = 12
        for _ in range(ntables):
            if p + 16 > len(data):
                break
            tag, _csum, offset, length = struct.unpack(">4sLLL", data[p : p + 16])
            self.tables[tag] = (offset, length)
            p += 16

    def create_unicode_map(self) -> FileUnicodeMap:
        """Parse cmap subtable formats 0, 2 and 4 → CID(=glyph code)→unichr
        (the same subtable set the reference handles, pdfparse.lisp:3214-3346)."""
        if b"cmap" not in self.tables:
            raise CMapNotFound("no cmap table")
        base, _length = self.tables[b"cmap"]
        data = self.data
        (_version, nsub) = struct.unpack(">HH", data[base : base + 4])
        char2gid: dict[int, int] = {}
        # whole-table work budget, charged in EVERY format branch (an
        # uncharged branch reopens the hole via nsub repetition): formats 4
        # and 12 allow up to 2^15 x 2^16 and 2^16 x 2^16 inner iterations
        # from a sub-MB crafted font — a CPU bomb even with per-range caps.
        # 2M iterations is ~2x every assignable Unicode code point, so no
        # legitimate font can hit it.
        budget = 1 << 21
        for i in range(nsub):
            if budget <= 0:
                break
            rec = base + 4 + i * 8
            _pid, _eid, st_off = struct.unpack(">HHL", data[rec : rec + 8])
            st = base + st_off
            (fmt,) = struct.unpack(">H", data[st : st + 2])
            if fmt == 0:
                gids = data[st + 6 : st + 6 + 256]
                budget -= 256
                for code, gid in enumerate(gids):
                    char2gid.setdefault(code, gid)
            elif fmt == 4:
                (segcount2,) = struct.unpack(">H", data[st + 6 : st + 8])
                segcount = segcount2 // 2
                ends = struct.unpack(
                    ">%dH" % segcount, data[st + 14 : st + 14 + segcount2]
                )
                p = st + 16 + segcount2
                starts = struct.unpack(">%dH" % segcount, data[p : p + segcount2])
                p += segcount2
                deltas = struct.unpack(">%dh" % segcount, data[p : p + segcount2])
                p += segcount2
                range_off_base = p
                range_offsets = struct.unpack(
                    ">%dH" % segcount, data[p : p + segcount2]
                )
                for seg in range(segcount):
                    if budget <= 0:
                        break
                    s0, e0 = starts[seg], ends[seg]
                    if s0 == 0xFFFF:
                        continue
                    ro = range_offsets[seg]
                    budget -= min(e0, 0xFFFE) + 1 - s0 if e0 >= s0 else 0
                    for code in range(s0, min(e0, 0xFFFE) + 1):
                        if ro == 0:
                            gid = (code + deltas[seg]) & 0xFFFF
                        else:
                            gidx = (
                                range_off_base
                                + seg * 2
                                + ro
                                + (code - s0) * 2
                            )
                            if gidx + 2 > len(data):
                                continue
                            (gid,) = struct.unpack(">H", data[gidx : gidx + 2])
                            if gid:
                                gid = (gid + deltas[seg]) & 0xFFFF
                        if gid:
                            char2gid.setdefault(code, gid)
            elif fmt == 2:
                # high-byte mapping (CJK legacy).  subHeaderKeys[hi]/8 picks a
                # subheader; key 0 = one-byte code, else two-byte (hi,lo) with
                # lo in [firstCode, firstCode+entryCount); glyph comes from
                # the glyphIndexArray at idRangeOffset measured from its own
                # field position, then idDelta (TrueType spec / reference
                # pdfparse.lisp:3240-3280)
                if st + 6 + 512 > len(data):
                    continue
                keys = struct.unpack(">256H", data[st + 6 : st + 6 + 512])
                subh_base = st + 6 + 512
                nsubh = max(keys) // 8 + 1
                budget -= 256 + nsubh  # key scan + subheader parse

                def _gid_at(pos: int) -> int:
                    if pos + 2 > len(data):
                        return 0
                    return struct.unpack(">H", data[pos : pos + 2])[0]

                subheaders = []
                for k in range(nsubh):
                    off = subh_base + k * 8
                    if off + 8 > len(data):
                        subheaders.append(None)
                        continue
                    first, count, delta, rng = struct.unpack(">HHhH", data[off : off + 8])
                    subheaders.append((first, count, delta, rng, off + 6))
                for hi in range(256):
                    if budget <= 0:
                        break
                    k = keys[hi] // 8
                    if k >= len(subheaders) or subheaders[k] is None:
                        continue
                    first, count, delta, rng, ro_pos = subheaders[k]
                    if k == 0:
                        code = hi
                        if first <= code < first + count and rng:
                            gid = _gid_at(ro_pos + rng + (code - first) * 2)
                            if gid:
                                char2gid.setdefault(code, (gid + delta) & 0xFFFF)
                    else:
                        budget -= max(min(first + count, 256) - first, 0)
                        for lo in range(first, min(first + count, 256)):
                            code = (hi << 8) | lo
                            gid = _gid_at(ro_pos + rng + (lo - first) * 2)
                            if gid:
                                char2gid.setdefault(code, (gid + delta) & 0xFFFF)
            elif fmt == 6:
                # trimmed table mapping: a dense [firstCode,
                # firstCode+entryCount) run of glyph ids.  Beyond the
                # reference's 0/2/4 set (pdfparse.lisp:3214-3346) — format 6
                # is the most common remaining legacy subtable.
                if st + 10 > len(data):
                    continue
                first, count = struct.unpack(">HH", data[st + 6 : st + 10])
                gid_base = st + 10
                budget -= count
                for k in range(count):
                    pos = gid_base + k * 2
                    if pos + 2 > len(data):
                        break
                    (gid,) = struct.unpack(">H", data[pos : pos + 2])
                    if gid:
                        char2gid.setdefault(first + k, gid)
            elif fmt == 12:
                # segmented coverage: 32-bit code ranges with sequential
                # glyph ids — required for any font mapping chars above
                # U+FFFF (emoji, SMP CJK).  Beyond the reference's set.
                if st + 16 > len(data):
                    continue
                (ngroups,) = struct.unpack(">L", data[st + 12 : st + 16])
                gbase = st + 16
                # 12 bytes per group; cap like _MAX_CMAP_RANGE guards the
                # bfrange path — a hostile ngroups/range cannot bomb memory
                for g in range(min(ngroups, 65536)):
                    if budget <= 0:
                        break
                    off = gbase + g * 12
                    if off + 12 > len(data):
                        break
                    s0, e0, gid0 = struct.unpack(">LLL", data[off : off + 12])
                    if e0 < s0 or e0 - s0 >= _MAX_CMAP_RANGE or s0 > 0x10FFFF:
                        continue
                    budget -= min(e0, 0x10FFFF) - s0 + 1
                    for k in range(min(e0, 0x10FFFF) - s0 + 1):
                        gid = (gid0 + k) & 0xFFFF  # glyph ids are 16-bit
                        if gid:
                            char2gid.setdefault(s0 + k, gid)
            # other formats (8, 10, 13, 14): skipped like the reference
        if not char2gid:
            raise CMapNotFound("no supported cmap subtable")
        umap = FileUnicodeMap()
        for char, gid in char2gid.items():
            if 0xD800 <= char <= 0xDFFF:
                # unpaired surrogate: chr() accepts it but UTF-8 encoding
                # (parquet/Arrow row serialization) raises far from here —
                # skip uniformly, like the ToUnicode path's utf-16be
                # 'ignore' decode already does
                continue
            umap.cid2unichr.setdefault(gid, chr(char))
        return umap


# --- width tables (pdfparse.lisp:2818-2863) ----------------------------------


def get_widths(seq: list) -> dict[int, float]:
    """CID /W array: [c [w1 w2 ...]] or [c1 c2 w] runs."""
    widths: dict[int, float] = {}
    r: list = []
    for v in seq:
        v = resolve1(v)
        if isinstance(v, list):
            if r:
                char1 = r[-1]
                for i, w in enumerate(v):
                    widths[char1 + i] = num_value(w)
                r = []
        elif isinstance(v, (int, float)):
            r.append(v)
            if len(r) == 3:
                char1, char2, w = r
                for i in range(int(char1), int(char2) + 1):
                    widths[i] = num_value(w)
                r = []
    return widths


# Core-14 AFM metrics (reference metrics.lisp:31, public Adobe Core 35 AFM
# data): full descriptors + advance widths by char code, generated into
# _afm_data.py by scripts/gen_afm.py.  The simple device never consults
# x-advance, so golden text is unchanged — but any layout device that
# synthesizes word spacing or detects columns needs the real widths.
from ._afm_data import FONT_METRICS

CORE14 = frozenset(FONT_METRICS)

_METRICS_CACHE: dict[str, tuple[dict, dict]] = {}


def get_font_metrics(basefont) -> tuple[dict, dict] | None:
    """(descriptor, widths-by-char-code) for a core-14 BaseFont name,
    None otherwise.  Descriptor keys (and name-valued entries) are wrapped
    in PSLiteral to match dictionary objects parsed from PDF files."""
    name = getattr(basefont, "name", basefont)
    if not isinstance(name, str):
        return None
    # subset prefixes like 'ABCDEF+Helvetica'
    if len(name) > 7 and name[6] == "+":
        name = name[7:]
    cached = _METRICS_CACHE.get(name)
    if cached is None:
        entry = FONT_METRICS.get(name)
        if entry is None:
            return None
        raw_desc, widths = entry
        descriptor = {
            LIT(k): (LIT(v) if isinstance(v, str) else v) for k, v in raw_desc.items()
        }
        cached = (descriptor, dict(widths))
        _METRICS_CACHE[name] = cached
    # fresh copies per call: a caller overlaying /Widths (or mutating the
    # descriptor) must not poison the cache for every later font instance.
    # List values (FontBBox) are copied too — a shallow dict() would still
    # share the nested list with the cache AND the module-level data table.
    descriptor = {
        k: (list(v) if isinstance(v, list) else v) for k, v in cached[0].items()
    }
    return (descriptor, dict(cached[1]))


# --- Type1 font-file header encoding (pdfparse.lisp:2875-2901) ---------------

KEYWORD_PUT = KWD("put")


class Type1FontHeaderParser(PSStackParser):
    """Extracts 'dup <code> /<glyph> put' pairs from a Type1 cleartext
    header → cid→unicode."""

    def __init__(self, data: bytes):
        super().__init__(data)
        self._cid2unicode: dict[int, str] = {}

    def do_keyword(self, pos: int, token: PSKeyword) -> None:
        if token is KEYWORD_PUT:
            vals = self.pop(2)
            if len(vals) == 2:
                key, value = vals[0][1], vals[1][1]
                if isinstance(key, int) and isinstance(value, PSLiteral):
                    self.add_results((key, value))

    def get_encoding(self) -> dict[int, str]:
        while True:
            try:
                cid, name = self.nextobject()
            except PSEOF:
                break
            try:
                self._cid2unicode[cid] = name2unicode(name)
            except KeyError:
                pass
        return self._cid2unicode


# --- font hierarchy ----------------------------------------------------------


class PDFUnicodeNotDefined(KeyError):
    pass


class PDFFont:
    def __init__(self, descriptor: dict, widths: dict, default_width=None):
        self.descriptor = descriptor
        self.widths = widths
        self.fontname = resolve1(descriptor.get(LIT("FontName"), LIT("unknown")))
        if isinstance(self.fontname, PSLiteral):
            self.fontname = self.fontname.name
        self.flags = int_value(descriptor.get(LIT("Flags"), 0))
        self.ascent = num_value(descriptor.get(LIT("Ascent"), 0))
        self.descent = num_value(descriptor.get(LIT("Descent"), 0))
        self.default_width = (
            default_width
            if default_width is not None
            else num_value(descriptor.get(LIT("MissingWidth"), 0))
        )
        self.leading = num_value(descriptor.get(LIT("Leading"), 0))
        self.bbox = list_value(descriptor.get(LIT("FontBBox"), [0, 0, 0, 0]))
        self.hscale = self.vscale = 0.001
        self._text: dict[int, str] = {}  # cid -> text memo (mapping is fixed)
        self._table: str | None = None  # 256-char charmap_decode table
        self._trans: dict[int, str] | None = None  # 256-entry str.translate table
        self._nrendered = 0

    def is_vertical(self) -> bool:
        return False

    def is_multibyte(self) -> bool:
        return False

    def decode(self, data: bytes) -> list[int]:
        """bytes → CIDs; 1:1 for simple fonts (pdfparse.lisp:3394)."""
        return list(data)

    def char_width(self, cid: int) -> float:
        return self.widths.get(cid, self.default_width) * self.hscale

    def to_unichr(self, cid: int) -> str:
        raise PDFUnicodeNotDefined(cid)

    def _cid_text(self, cid: int) -> str:
        try:
            return self.to_unichr(cid) or ""
        except (PDFUnicodeNotDefined, KeyError):
            return "<CID %X>" % cid

    def decode_text(self, data: bytes) -> str:
        """The text a string operand renders: each cid as ``to_unichr``
        maps it, ``<CID x>`` (uppercase hex) when unmapped; an empty
        mapping drops the cid.

        Per cid through a memo until ``_decode_tables`` hands over the
        256-entry tables of a single-byte font; from then on one C-level
        ``codecs.charmap_decode`` over a 256-char table.  A code whose text
        is not exactly one char (``<CID x>``, a dropped code, a multi-char
        ToUnicode value) is U+FFFE there, which the codec reads as
        undefined, as is U+FFFE itself; a string holding one goes through
        ``str.translate`` over the 256-entry dict ('' drops a char), which
        gives the same text for every code."""
        table = self._table
        if table is None:
            tables = self._decode_tables()
            if tables is None:
                self._nrendered += len(data)
                memo = self._text
                chars = []
                for cid in self.decode(data):
                    ch = memo.get(cid)
                    if ch is None:
                        ch = memo[cid] = self._cid_text(cid)
                    chars.append(ch)
                return "".join(chars)
            self._table, self._trans = tables
            table = self._table
        try:
            return charmap_decode(data, "strict", table)[0]
        except UnicodeDecodeError:
            return data.decode("latin-1").translate(self._trans)

    def _decode_tables(self) -> tuple[str, dict[int, str]] | None:
        """The decode tables once a single-byte font has rendered more than
        200 chars, else None: building them up front would cost more than a
        small document renders."""
        if self._nrendered <= 200 or self.is_multibyte():
            return None
        return _charmap_tables({cid: self._text.get(cid) or self._cid_text(cid) for cid in range(256)})


def _charmap_tables(trans: dict[int, str]) -> tuple[str, dict[int, str]]:
    """(``charmap_decode`` table, ``str.translate`` dict) of the 256-entry
    cid → text map ``trans``: U+FFFE, the codec's undefined, stands for
    every text that is not exactly one char."""
    return "".join(t if len(t) == 1 else "\ufffe" for t in trans.values()), trans


# the decode tables of the shared base encodings, built once per process
_BASE_ENCODING_TABLES: dict[int, tuple[str, dict[int, str]] | None] = {
    id(table): None for table in ENCODINGS.values()
}


class PDFSimpleFont(PDFFont):
    def __init__(self, descriptor: dict, widths: dict, spec: dict):
        # /Encoding: name or dict with BaseEncoding + Differences
        encoding = resolve1(spec.get(LIT("Encoding"), LITERAL_STANDARD_ENCODING))
        if isinstance(encoding, dict):
            base = encoding.get(LIT("BaseEncoding"), LITERAL_STANDARD_ENCODING)
            diff = list_value(encoding.get(LIT("Differences"), []))
            diff = [resolve1(d) for d in diff]
            self.cid2unicode = get_encoding(base, diff)
        else:
            self.cid2unicode = get_encoding(encoding)
        self.unicode_map = None
        if LIT("ToUnicode") in spec:
            strm = stream_value(resolve1(spec[LIT("ToUnicode")]))
            self.unicode_map = FileUnicodeMap()
            CMapParser(self.unicode_map, strm.get_data()).run()
        super().__init__(descriptor, widths)

    def to_unichr(self, cid: int) -> str:
        """ToUnicode first, then the encoding table; KeyError when unmapped
        (pdfminer semantics; see module docstring for the reference bug)."""
        if self.unicode_map is not None:
            try:
                return self.unicode_map.get_unichr(cid)
            except KeyError:
                pass
        try:
            return self.cid2unicode[cid]
        except KeyError:
            raise PDFUnicodeNotDefined(cid)

    def _decode_tables(self) -> tuple[str, dict[int, str]] | None:
        """With no ToUnicode and a shared base encoding as its whole
        mapping (no /Differences, no Type1 header encoding), every code
        decodes as in every other such font: the tables are built once per
        process, and the font decodes through them from its first string."""
        key = id(self.cid2unicode)
        if self.unicode_map is None and key in _BASE_ENCODING_TABLES:
            tables = _BASE_ENCODING_TABLES[key]
            if tables is None:
                tables = _BASE_ENCODING_TABLES[key] = _charmap_tables(
                    {cid: self._cid_text(cid) for cid in range(256)}
                )
            return tables
        return super()._decode_tables()


class PDFType1Font(PDFSimpleFont):
    def __init__(self, spec: dict):
        basefont = resolve1(spec.get(LIT("BaseFont"), LIT("unknown")))
        self.basefont = basefont
        metrics = get_font_metrics(basefont)
        if metrics is not None:
            descriptor, widths = metrics
        else:
            descriptor = dict_value(spec.get(LIT("FontDescriptor"), {}))
            firstchar = int_value(spec.get(LIT("FirstChar"), 0))
            wlist = list_value(spec.get(LIT("Widths"), [0] * 256))
            widths = {firstchar + i: num_value(resolve1(w)) for i, w in enumerate(wlist)}
        super().__init__(descriptor, widths, spec)
        # Type1 FontFile header encoding when /Encoding is absent
        # (pdfparse.lisp:3495-3503)
        if LIT("Encoding") not in spec and LIT("FontFile") in descriptor:
            fontfile = stream_value(resolve1(descriptor[LIT("FontFile")]))
            length1 = int_value(fontfile.get(LIT("Length1"), 0))
            data = fontfile.get_data()[:length1]
            parsed = Type1FontHeaderParser(data).get_encoding()
            if parsed:
                self.cid2unicode = parsed


class PDFTrueTypeFont(PDFType1Font):
    pass


class PDFType3Font(PDFSimpleFont):
    def __init__(self, spec: dict):
        firstchar = int_value(spec.get(LIT("FirstChar"), 0))
        wlist = list_value(spec.get(LIT("Widths"), [0] * 256))
        widths = {firstchar + i: num_value(resolve1(w)) for i, w in enumerate(wlist)}
        descriptor = dict_value(spec.get(LIT("FontDescriptor"), {}))
        super().__init__(descriptor, widths, spec)
        self.matrix = list_value(spec.get(LIT("FontMatrix"), [0.001, 0, 0, 0.001, 0, 0]))


class PDFCIDFont(PDFFont):
    def __init__(self, spec: dict):
        self.basefont = resolve1(spec.get(LIT("BaseFont"), LIT("unknown")))
        cidsysteminfo = dict_value(resolve1(spec.get(LIT("CIDSystemInfo"), {})))
        registry = resolve1(cidsysteminfo.get(LIT("Registry"), b"unknown"))
        ordering = resolve1(cidsysteminfo.get(LIT("Ordering"), b"unknown"))
        if isinstance(registry, bytes):
            registry = registry.decode("latin-1")
        if isinstance(ordering, bytes):
            ordering = ordering.decode("latin-1")
        self.cidcoding = "%s-%s" % (registry, ordering)
        encoding = resolve1(spec.get(LIT("Encoding"), LIT("unknown")))
        try:
            self.cmap = get_predefined_cmap(encoding)
        except CMapNotFound:
            if isinstance(encoding, (bytes, dict)) or hasattr(encoding, "get_data"):
                # embedded CMap stream
                strm = stream_value(encoding)
                cmap = FileCMap()
                CMapParser(cmap, strm.get_data()).run()
                self.cmap = cmap
            else:
                self.cmap = CMap()
        descriptor = dict_value(resolve1(spec.get(LIT("FontDescriptor"), {})))
        ttf = None
        if LIT("FontFile2") in descriptor:
            fontfile = stream_value(resolve1(descriptor[LIT("FontFile2")]))
            try:
                ttf = TrueTypeFont(self.basefont, fontfile.get_data())
            except (CMapNotFound, struct.error):
                ttf = None
        self.unicode_map = None
        if LIT("ToUnicode") in spec:
            strm = stream_value(resolve1(spec[LIT("ToUnicode")]))
            self.unicode_map = FileUnicodeMap()
            CMapParser(self.unicode_map, strm.get_data()).run()
        elif self.cidcoding == "Adobe-Identity":
            if ttf is not None:
                try:
                    self.unicode_map = ttf.create_unicode_map()
                except (CMapNotFound, struct.error):
                    pass
        else:
            try:
                self.unicode_map = get_predefined_unicode_map(
                    self.cidcoding, self.cmap.is_vertical()
                )
            except CMapNotFound:
                pass
        self.vertical = self.cmap.is_vertical()
        widths = get_widths(list_value(spec.get(LIT("W"), [])))
        default_width = num_value(spec.get(LIT("DW"), 1000))
        super().__init__(descriptor, widths, default_width)

    def is_vertical(self) -> bool:
        return self.vertical

    def is_multibyte(self) -> bool:
        return True

    def decode(self, data: bytes) -> list[int]:
        return self.cmap.decode(data)

    def to_unichr(self, cid: int) -> str:
        if self.unicode_map is None:
            raise PDFUnicodeNotDefined(cid)
        try:
            return self.unicode_map.get_unichr(cid)
        except KeyError:
            raise PDFUnicodeNotDefined(cid)


LITERAL_TYPE0 = LIT("Type0")
_FONT_DISPATCH = {
    LIT("Type1"): PDFType1Font,
    LIT("MMType1"): PDFType1Font,
    LIT("TrueType"): PDFTrueTypeFont,
    LIT("Type3"): PDFType3Font,
    LIT("CIDFontType0"): PDFCIDFont,
    LIT("CIDFontType2"): PDFCIDFont,
}


def get_font(spec: dict) -> PDFFont:
    """Font factory by /Subtype (pdfparse.lisp:2104-2147).  Type0 recurses
    into DescendantFonts, merging Encoding/ToUnicode down."""
    subtype = resolve1(spec.get(LIT("Subtype"), LITERAL_TYPE1))
    if subtype is LITERAL_TYPE0:
        dfonts = list_value(resolve1(spec.get(LIT("DescendantFonts"), [])))
        subspec = dict(dict_value(resolve1(dfonts[0]))) if dfonts else {}
        for k in (LIT("Encoding"), LIT("ToUnicode")):
            if k in spec:
                subspec[k] = resolve1(spec[k])
        return get_font(subspec)
    cls = _FONT_DISPATCH.get(subtype, PDFType1Font)
    return cls(spec)
