"""PDF document: xref chain, object fetch (incl. ObjStm), page tree, RC4.

Reference behavior: /root/reference/pdfparse.lisp:1295-1687 (SURVEY.md §2
P3/P4/P5, §3.2).  Lenient: missing objects resolve to None rather than
raising, matching the reference's non-strict mode.
"""

from __future__ import annotations

import hashlib
import struct

from .psparse import LIT, PSEOF
from .pdfparser import KEYWORD_OBJ, PDFParser, PDFStreamParser
from .pdftypes import (
    PDFObjRef,
    PDFStream,
    decipher_all,
    dict_value,
    int_value,
    list_value,
    resolve1,
    str_value,
    stream_value,
)

__all__ = ["PDFDocument", "PDFPage", "PDFEncryptionError", "PDFNoOutlines"]

LITERAL_OBJSTM = LIT("ObjStm")
LITERAL_PAGE = LIT("Page")
LITERAL_PAGES = LIT("Pages")
LITERAL_CATALOG = LIT("Catalog")
LITERAL_TYPE = LIT("Type")
LITERAL_KIDS = LIT("Kids")
LITERAL_N = LIT("N")
LITERAL_COUNT = LIT("Count")

LITERAL_RESOURCES = LIT("Resources")
LITERAL_MEDIABOX = LIT("MediaBox")
LITERAL_CROPBOX = LIT("CropBox")
LITERAL_ROTATE = LIT("Rotate")
LITERAL_ANNOTS = LIT("Annots")
LITERAL_B = LIT("B")
LITERAL_CONTENTS = LIT("Contents")

INHERITABLE_ATTRS = (LITERAL_RESOURCES, LITERAL_MEDIABOX, LITERAL_CROPBOX, LITERAL_ROTATE)

PASSWORD_PADDING = bytes(
    [40, 191, 78, 94, 78, 117, 138, 65, 100, 0, 78, 86, 255, 250, 1, 8,
     46, 46, 0, 182, 208, 104, 62, 128, 47, 12, 169, 254, 100, 83, 105, 122]
)


class PDFNoOutlines(Exception):
    """Raised by get_outlines when the catalog has no /Outlines
    (the reference errors with \"No Outlines\", pdfparse.lisp get-outlines)."""


class PDFEncryptionError(Exception):
    pass


def rc4(key: bytes, data: bytes) -> bytes:
    """Plain RC4 (public algorithm), used by PDF standard security handler
    revisions 2-3 (pdfparse.lisp:1437-1547)."""
    S = list(range(256))
    j = 0
    klen = len(key)
    for i in range(256):
        j = (j + S[i] + key[i % klen]) & 0xFF
        S[i], S[j] = S[j], S[i]
    out = bytearray(len(data))
    i = j = 0
    for n, c in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + S[i]) & 0xFF
        S[i], S[j] = S[j], S[i]
        out[n] = c ^ S[(S[i] + S[j]) & 0xFF]
    return bytes(out)


class PDFPage:
    """Page attributes with inherited Resources/MediaBox/CropBox/Rotate
    (pdfparse.lisp:1295-1351)."""

    def __init__(self, doc: "PDFDocument", pageid, attrs):
        self.doc = doc
        self.pageid = pageid
        attrs = self.attrs = dict_value(attrs)
        self.resources = resolve1(attrs.get(LITERAL_RESOURCES))
        self.mediabox = resolve1(attrs.get(LITERAL_MEDIABOX)) or [0, 0, 612, 792]
        if LITERAL_CROPBOX in attrs:
            self.cropbox = resolve1(attrs[LITERAL_CROPBOX])
        else:
            self.cropbox = self.mediabox
        self.rotate = (int_value(attrs.get(LITERAL_ROTATE, 0)) + 360) % 360
        self.annots = attrs.get(LITERAL_ANNOTS)
        self.beads = attrs.get(LITERAL_B)
        contents = None
        if LITERAL_CONTENTS in attrs:
            contents = resolve1(attrs[LITERAL_CONTENTS])
        if not isinstance(contents, list):
            contents = [contents] if contents is not None else []
        self.contents = contents


class PDFDocument:
    """Xref chain + trailers + catalog + object cache (pdfparse.lisp:1353-1627)."""

    def __init__(self):
        self.catalog: dict | None = None
        self.encryption = None
        self.decipher = None
        self.xrefs: list = []
        self.info: list = []
        self._parser: PDFParser | None = None
        self._cached_objs: dict[int, object] = {}
        self._parsed_objs: dict[int, list] = {}
        self.is_extractable = True

    def set_parser(self, parser: PDFParser) -> None:
        if self._parser is not None:
            return
        self._parser = parser
        self.xrefs = parser.read_xref()
        for xref in self.xrefs:
            trailer = xref.get_trailer()
            if not trailer:
                continue
            if LIT("Encrypt") in trailer:
                self.encryption = (
                    list_value(trailer.get(LIT("ID"))),
                    dict_value(trailer[LIT("Encrypt")]),
                )
            if LIT("Info") in trailer:
                self.info.append(trailer[LIT("Info")])
            if LIT("Root") in trailer:
                self.catalog = dict_value(trailer[LIT("Root")])
                break
        else:
            raise PSEOF("no /Root object - not a PDF?")

    def initialize(self, password: bytes = b"") -> None:
        """Standard security handler, V1/V2, R2/R3, RC4 (pdfparse.lisp:1494-1547)."""
        if not self.encryption or not self.encryption[1]:
            return
        docid, param = self.encryption
        if param.get(LIT("Filter")) is not LIT("Standard"):
            raise PDFEncryptionError("unknown security filter: %r" % param)
        v = int_value(param.get(LIT("V"), 0))
        length = int_value(param.get(LIT("Length"), 40))
        o = str_value(param.get(LIT("O")))
        r = int_value(param.get(LIT("R")))
        u = str_value(param.get(LIT("U")))
        p = int_value(param.get(LIT("P")))
        if v not in (1, 2):
            raise PDFEncryptionError("unknown encryption algorithm V=%r" % v)
        if r >= 4:
            raise PDFEncryptionError("revision %r encryption is unsupported" % r)
        self.is_extractable = bool(p & 16)
        padded = (password + PASSWORD_PADDING)[:32]
        h = hashlib.md5(padded)
        h.update(o)
        h.update(struct.pack("<i", p))
        h.update(str_value(docid[0]) if docid else b"")
        if r >= 3:
            digest = h.digest()
            for _ in range(50):
                digest = hashlib.md5(digest[: length // 8]).digest()
            key = digest[: length // 8]
        else:
            key = h.digest()[: length // 8]
        # verify against /U
        if r == 2:
            u1 = rc4(key, PASSWORD_PADDING)
            ok = u1 == u
        else:
            h2 = hashlib.md5(PASSWORD_PADDING)
            h2.update(str_value(docid[0]) if docid else b"")
            x = rc4(key, h2.digest()[:16])
            for i in range(1, 20):
                k = bytes(c ^ i for c in key)
                x = rc4(k, x)
            ok = x[:16] == u[:16]
        if not ok:
            raise PDFEncryptionError("incorrect password")

        def decipher(objid: int, genno: int, data: bytes) -> bytes:
            k1 = key + struct.pack("<L", objid)[:3] + struct.pack("<L", genno)[:2]
            k = hashlib.md5(k1).digest()[: min(len(k1), 16)]
            return rc4(k, data)

        self.decipher = decipher

    # --- object fetch --------------------------------------------------------
    def getobj(self, objid: int):
        if not self.xrefs:
            raise RuntimeError("PDFDocument is not initialized")
        if objid in self._cached_objs:
            return self._cached_objs[objid]
        pair = None
        for xref in self.xrefs:
            try:
                pair = xref.get_pos(objid)
                break
            except KeyError:
                continue
        if pair is None:
            return None  # lenient
        strmid, index = pair
        genno = 0
        if strmid is not None:
            obj = self._getobj_objstm(strmid, index, objid)
        else:
            obj = self._getobj_parse(index, objid)
        # decipher BEFORE caching: the cache must hold plaintext, else the
        # first fetch returns the deciphered object but every cache hit
        # returns raw RC4 ciphertext for bytes/list objects (dicts only
        # survived because decipher_all mutates them in place)
        if self.decipher:
            obj = decipher_all(self.decipher, objid, genno, obj)
        if objid not in self._cached_objs:
            self._cached_objs[objid] = obj
        return obj

    def _getobj_objstm(self, strmid: int, index: int, objid: int):
        # a forged xref can claim an ObjStm lives inside itself (or in a
        # cycle of containers); fetching the container would then recurse
        # forever — resolve leniently to "missing" instead
        opening = getattr(self, "_objstm_opening", None)
        if opening is None:
            opening = self._objstm_opening = set()
        if strmid in opening:
            return None
        opening.add(strmid)
        try:
            stream = stream_value(self.getobj(strmid))
        finally:
            opening.discard(strmid)
        n = int_value(stream.get(LITERAL_N, 0))
        if strmid in self._parsed_objs:
            objs = self._parsed_objs[strmid]
        else:
            parser = PDFStreamParser(stream.get_data())
            parser.set_document(self)
            objs = []
            while True:
                try:
                    _, obj = parser.nextobject()
                except PSEOF:
                    break
                objs.append(obj)
            self._parsed_objs[strmid] = objs
        # layout: 2N header ints (objid offset)*, then the N objects
        i = n * 2 + index
        if i >= len(objs):
            return None
        obj = objs[i]
        if isinstance(obj, PDFStream):
            obj.set_objid(objid, 0)
        return obj

    def _getobj_parse(self, pos: int, objid: int):
        parser = self._parser
        stack = parser.object_stack_fast(pos, objid)
        if stack is not None:
            # do_keyword(endobj) pops the last four stack items and
            # nextobject returns the first of them
            return stack[-4:][0]
        parser.seek(pos)
        try:
            _, objid1 = parser.nexttoken()
            _, genno = parser.nexttoken()
            _, kwd = parser.nexttoken()
            if objid1 != objid:
                # resync: scan forward for the 'obj' keyword (lenient)
                while kwd is not KEYWORD_OBJ:
                    _, kwd = parser.nexttoken()
            if kwd is not KEYWORD_OBJ:
                return None
            _, obj = parser.nextobject()
        except PSEOF:
            return None
        if isinstance(obj, PDFStream):
            obj.set_objid(objid, int(genno) if isinstance(genno, int) else 0)
        return obj

    # --- outlines ------------------------------------------------------------
    def get_outlines(self):
        """DFS over the /Outlines tree, yielding (title, dest, a, se) like
        the reference's get-outlines generator (children after their node,
        then siblings).  Title strings go through decode_text
        (PDFDocEncoding / UTF-16BE).

        Deviation from the reference, recorded in SURVEY.md §5.2: its
        emit condition tests membership of the STRING key \"A\" in a
        literal-keyed dict — which never matches — so entries whose only
        target is an /A action are silently dropped; per the PDF spec we
        emit when Title plus either /A or /Dest is present.  Explicit
        stack + seen-set: sibling chains cannot recurse past the Python
        limit and /Next cycles terminate.
        """
        from .encodings import decode_text

        if self.catalog is None or LIT("Outlines") not in self.catalog:
            raise PDFNoOutlines()
        lit_t, lit_a, lit_d, lit_se = LIT("Title"), LIT("A"), LIT("Dest"), LIT("SE")
        lit_first, lit_next = LIT("First"), LIT("Next")
        seen: set[int] = set()

        def _entry(obj):
            if isinstance(obj, PDFObjRef):
                if obj.objid in seen:
                    return None
                seen.add(obj.objid)
            try:
                return dict_value(resolve1(obj))
            except Exception:
                return None

        stack = [_entry(self.catalog[LIT("Outlines")])]
        while stack:
            entry = stack.pop()
            if not isinstance(entry, dict):
                continue
            if lit_t in entry and (lit_a in entry or lit_d in entry):
                yield (
                    decode_text(str_value(resolve1(entry[lit_t]))),
                    entry.get(lit_d),
                    entry.get(lit_a),
                    entry.get(lit_se),
                )
            # push Next first so First (children) pops before the sibling
            if lit_next in entry:
                stack.append(_entry(entry[lit_next]))
            if lit_first in entry:
                stack.append(_entry(entry[lit_first]))

    # --- name trees ----------------------------------------------------------
    def lookup_name(self, cat, key: bytes):
        """Look ``key`` up in the catalog's /Names → ``cat`` name tree
        (reference get-outlines' sibling `lookup-name`).  Walks /Limits
        pruning, flat /Names leaf pairs, and /Kids recursion per PDF 32000
        §7.9.6; raises KeyError when absent.

        Deviation recorded in SURVEY.md §5.2: the reference fetches the
        leaf value from a hash built over /Kids where the /Names pair
        list belongs, and orders string keys with numeric `<` — the
        function cannot succeed as written; ours follows the spec.
        """
        if self.catalog is None or LIT("Names") not in self.catalog:
            raise KeyError((cat, key))
        names = dict_value(resolve1(self.catalog[LIT("Names")]))
        if cat not in names:
            raise KeyError((cat, key))

        lit_limits, lit_names, lit_kids = LIT("Limits"), LIT("Names"), LIT("Kids")

        # explicit-stack DFS with a seen-set over node objids — a crafted
        # /Kids cycle or arbitrarily deep chain must not hit the recursion
        # limit (same hardening as get_pages / get_outlines)
        seen: set[int] = set()
        stack: list[object] = [names[cat]]
        while stack:
            node = stack.pop()
            if isinstance(node, PDFObjRef):
                if node.objid in seen:
                    continue
                seen.add(node.objid)
            d = dict_value(resolve1(node))
            if lit_limits in d:
                lo, hi = list_value(resolve1(d[lit_limits]))[:2]
                if key < str_value(resolve1(lo)) or str_value(resolve1(hi)) < key:
                    continue
            if lit_names in d:
                flat = list_value(resolve1(d[lit_names]))
                for i in range(0, len(flat) - 1, 2):
                    if str_value(resolve1(flat[i])) == key:
                        return flat[i + 1]
            if lit_kids in d:
                # reversed push keeps in-order traversal (parity with the
                # recursive first-match-wins walk)
                stack.extend(reversed(list(list_value(resolve1(d[lit_kids])))))
        raise KeyError((cat, key))

    def get_dest(self, name: bytes):
        """Named destination: /Names → /Dests tree first, then the legacy
        catalog /Dests dictionary (reference get-dest fallback order)."""
        try:
            return self.lookup_name(LIT("Dests"), name)
        except KeyError:
            if self.catalog is not None and LIT("Dests") in self.catalog:
                dests = dict_value(resolve1(self.catalog[LIT("Dests")]))
                k = LIT(name.decode("latin-1")) if isinstance(name, bytes) else name
                if k in dests:
                    return dests[k]
            raise KeyError(name)

    # --- page tree -----------------------------------------------------------
    def get_pages(self):
        """Lazy DFS over /Pages tree with attribute inheritance
        (pdfparse.lisp:1629-1687).

        Explicit-stack DFS, not recursion: a legitimately deep (or
        maliciously nested) /Pages chain must not hit the Python recursion
        limit — 5000-deep trees walk fine.  The seen-set breaks cycles;
        kids are pushed reversed so pages still come out in document order.
        """
        if self.catalog is None:
            return
        root = self.catalog.get(LITERAL_PAGES)
        if root is None:
            return
        seen: set[int] = set()
        stack: list[tuple[object, dict]] = [(root, self.catalog)]
        while stack:
            obj, parent = stack.pop()
            if isinstance(obj, (PDFObjRef, int)):
                pageid = obj.objid if isinstance(obj, PDFObjRef) else obj
                if pageid in seen:
                    continue
                seen.add(pageid)
                tree = dict(dict_value(self.getobj(pageid)))
            else:
                pageid = None
                tree = dict(dict_value(obj))
            for k in INHERITABLE_ATTRS:
                if k in parent and k not in tree:
                    tree[k] = parent[k]
            typ = tree.get(LITERAL_TYPE)
            if typ is LITERAL_PAGES and LITERAL_KIDS in tree:
                for kid in reversed(list(list_value(tree[LITERAL_KIDS]))):
                    stack.append((kid, tree))
            elif typ is LITERAL_PAGE:
                yield PDFPage(self, pageid, tree)

    # --- windowed page access (per-page-parallel extraction) ------------------
    def count_pages_validated(self) -> tuple[int, bool]:
        """(n_pages, counts_ok): full page-tree walk that ALSO checks every
        /Pages node's declared /Count against the actual number of leaf
        pages beneath it (post-order, explicit stack).  ``counts_ok`` gates
        :meth:`get_pages_window`'s Count-based subtree skipping — a lying
        or absent /Count, or a tree cycle, makes skipping unsafe, and the
        caller must fall back to the full walk."""
        if self.catalog is None:
            return 0, True
        root = self.catalog.get(LITERAL_PAGES)
        if root is None:
            return 0, True
        ok = True
        seen: set[int] = set()
        # ancestor frames: [declared_count, leaves_counted]
        ancestors: list[list] = []
        total = 0
        stack: list[tuple[str, object]] = [("visit", root)]
        while stack:
            kind, obj = stack.pop()
            if kind == "exit":
                fr = obj
                ancestors.pop()
                if fr[0] is None or fr[0] != fr[1]:
                    ok = False
                if ancestors:
                    ancestors[-1][1] += fr[1]
                continue
            if isinstance(obj, (PDFObjRef, int)):
                pageid = obj.objid if isinstance(obj, PDFObjRef) else obj
                if pageid in seen:
                    ok = False  # cycle: counts cannot be trusted
                    continue
                seen.add(pageid)
                tree = dict_value(self.getobj(pageid))
            else:
                tree = dict_value(obj)
            typ = tree.get(LITERAL_TYPE)
            if typ is LITERAL_PAGES and LITERAL_KIDS in tree:
                declared = resolve1(tree.get(LITERAL_COUNT))
                fr = [declared if isinstance(declared, int) else None, 0]
                ancestors.append(fr)
                stack.append(("exit", fr))
                for kid in reversed(list(list_value(tree[LITERAL_KIDS]))):
                    stack.append(("visit", kid))
            elif typ is LITERAL_PAGE:
                total += 1
                if ancestors:
                    ancestors[-1][1] += 1
        return total, ok

    def get_pages_window(self, page_start: int, page_end: int):
        """Pages [page_start, page_end) (1-based, half-open) WITHOUT walking
        the whole tree: a /Pages subtree that ends before the window is
        skipped via its /Count (O(window + tree breadth) instead of
        O(total pages) per call); traversal stops once the window is done.

        ONLY valid when :meth:`count_pages_validated` returned
        ``counts_ok`` — declared counts ARE the skip arithmetic here.
        Yields the same (page order, inherited attributes) as
        :meth:`get_pages` restricted to the window."""
        if self.catalog is None:
            return
        root = self.catalog.get(LITERAL_PAGES)
        if root is None:
            return
        seen: set[int] = set()
        consumed = 0  # leaf pages passed (skipped or yielded)
        stack: list[tuple[object, dict]] = [(root, self.catalog)]
        while stack:
            if consumed >= page_end - 1:
                return  # everything further is past the window
            obj, parent = stack.pop()
            if isinstance(obj, (PDFObjRef, int)):
                pageid = obj.objid if isinstance(obj, PDFObjRef) else obj
                if pageid in seen:
                    continue
                seen.add(pageid)
                tree = dict(dict_value(self.getobj(pageid)))
            else:
                pageid = None
                tree = dict(dict_value(obj))
            for k in INHERITABLE_ATTRS:
                if k in parent and k not in tree:
                    tree[k] = parent[k]
            typ = tree.get(LITERAL_TYPE)
            if typ is LITERAL_PAGES and LITERAL_KIDS in tree:
                declared = resolve1(tree.get(LITERAL_COUNT))
                if isinstance(declared, int) and consumed + declared < page_start:
                    consumed += declared  # whole subtree before the window
                    continue
                for kid in reversed(list(list_value(tree[LITERAL_KIDS]))):
                    stack.append((kid, tree))
            elif typ is LITERAL_PAGE:
                consumed += 1
                if consumed >= page_start:
                    yield consumed, PDFPage(self, pageid, tree)
