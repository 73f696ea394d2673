"""PDF triage — header, xref/trailer chain, page tree, stream accounting.

Beyond-reference capability (the reference ships no document
handling): PDF is the highest-volume non-HTML document format in web
crawls, and the triage stage a 100 TB pipeline needs before any text
extraction is structural: read the header version, locate the
cross-reference machinery from `startxref`, walk the xref table chain
(incremental updates newest-first), verify every in-use entry points
at its object, resolve the catalog → page tree, and account stream
bytes — all without interpreting a single content-stream operator.
The content streams stay opaque, exactly like the VP8/MP3 payloads in
this family: countable, filterable, auditable without a renderer.

Hand-rolled from the public ISO 32000-1 layout:

  - header `%PDF-M.m`; tail `startxref <offset>` + `%%EOF` (the LAST
    startxref in the file governs — incremental updates append).
  - classic cross-reference tables: `xref`, subsection headers
    `<start> <count>`, then exactly-20-byte entries
    `nnnnnnnnnn ggggg n|f` + 2-byte EOL; trailer dictionaries with
    /Size /Root and /Prev chaining to older revisions (NEWER entries
    shadow older ones — update semantics).
  - objects `<num> <gen> obj ... endobj`; a minimal value grammar
    (dict/array/name/int/real/ref/string/hex/bool/null) sufficient
    for every structural dictionary; `stream`/`endstream` framed by
    an exact /Length (direct or indirect reference).
  - page tree: /Root → /Type /Catalog → /Pages → recursive /Kids walk
    counting /Type /Page leaves, verified against /Count.

  - cross-reference STREAMS (PDF 1.5+, ISO 32000-1 §7.5.8): the
    startxref target is an indirect stream object `/Type /XRef` whose
    data is `/W [w1 w2 w3]`-wide big-endian rows over the `/Index`
    subsections (default `[0 /Size]`), FlateDecoded and, when
    `/DecodeParms /Predictor >= 10`, PNG-row-unfiltered (the same
    Up/Sub/Average/Paeth machinery as the PNG decoder —
    `multimodal._png_unfilter`). Row type 0 = free (a tombstone that
    SHADOWS older in-use entries), 1 = (offset, gen) in-file,
    2 = in an object stream (refused). The stream's dictionary IS the
    trailer (/Size /Root /Prev), so /Prev chains mix table and stream
    revisions freely.

Honest refusals: /Encrypt, name `#` escapes, object streams
(/Type /ObjStm — both as a stream type and as type-2 xref rows),
filter chains / non-Flate filters, the TIFF predictor, malformed
20-byte entries, /Prev cycles, /Count disagreeing with the walked
tree, /Length not framing `endstream`.

Oracle strategy (the container-family construction): the fixture
writer emits real multi-revision PDFs whose version, object count,
page count, stream-byte total, and revision count are closed forms of
the document row, so DuckDB computes the full manifest from
`documents` while the Spark side must actually chase startxref,
merge the xref chain, and walk the page tree.
"""
from __future__ import annotations

import zlib
from typing import Iterator, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from orionld_to_hive_spark.sources.warehouse import load_docs_spread

_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"


class PdfMeta(NamedTuple):
    version: str
    n_objects: int  # in-use objects after merging the xref chain
    n_pages: int
    content_bytes: int  # Σ stream /Length over in-use objects,
    #                     excluding /Type /XRef metadata streams
    n_revisions: int  # xref sections in the /Prev chain
    n_xref_streams: int  # how many of those were PDF 1.5 xref streams
    predictor: int  # newest revision's /Predictor (0 = classic table)


class _Name(str):
    """PDF name object (distinct from strings in dict keys/values)."""


class _Ref(NamedTuple):
    num: int
    gen: int


class _Lexer:
    def __init__(self, payload: bytes, pos: int):
        self.b = payload
        self.pos = pos

    def _skip_ws(self) -> None:
        b, n = self.b, len(self.b)
        while self.pos < n:
            c = self.b[self.pos]
            if c in _WS:
                self.pos += 1
            elif c == 0x25:  # '%' comment to EOL
                j = self.pos
                while j < n and b[j] not in b"\r\n":
                    j += 1
                self.pos = j
            else:
                return

    def keyword(self) -> str:
        self._skip_ws()
        j = self.pos
        b, n = self.b, len(self.b)
        while j < n and b[j] not in _WS and b[j] not in _DELIM:
            j += 1
        word = b[self.pos : j].decode("latin-1")
        self.pos = j
        return word

    def expect(self, word: str) -> None:
        got = self.keyword()
        if got != word:
            raise ValueError(f"pdf: expected {word!r}, got {got!r}")

    def name(self) -> _Name:
        # caller consumed '/'
        j = self.pos
        b, n = self.b, len(self.b)
        while j < n and b[j] not in _WS and b[j] not in _DELIM:
            j += 1
        raw = b[self.pos : j]
        if b"#" in raw:
            raise NotImplementedError("pdf: name #-escapes not supported")
        self.pos = j
        return _Name(raw.decode("latin-1"))

    def value(self, depth: int = 0):
        if depth > 32:
            raise ValueError("pdf: value nesting too deep")
        self._skip_ws()
        b, n = self.b, len(self.b)
        if self.pos >= n:
            raise ValueError("pdf: unexpected end of file in a value")
        c = b[self.pos]
        if c == 0x2F:  # /name
            self.pos += 1
            return self.name()
        if b[self.pos : self.pos + 2] == b"<<":
            self.pos += 2
            d: dict[str, object] = {}
            while True:
                self._skip_ws()
                if b[self.pos : self.pos + 2] == b">>":
                    self.pos += 2
                    return d
                if self.pos >= n or b[self.pos] != 0x2F:
                    raise ValueError("pdf: dict key is not a name")
                self.pos += 1
                key = self.name()
                d[key] = self.value(depth + 1)
        if c == 0x3C:  # <hex string>
            end = b.find(b">", self.pos + 1)
            if end < 0:
                raise ValueError("pdf: unterminated hex string")
            self.pos = end + 1
            return b""
        if c == 0x5B:  # [array]
            self.pos += 1
            arr: list[object] = []
            while True:
                self._skip_ws()
                if self.pos < n and b[self.pos] == 0x5D:
                    self.pos += 1
                    return arr
                arr.append(self.value(depth + 1))
        if c == 0x28:  # (literal string) — balanced parens, \ escapes
            j = self.pos + 1
            bal = 1
            while j < n and bal:
                ch = b[j]
                if ch == 0x5C:
                    j += 2
                    continue
                if ch == 0x28:
                    bal += 1
                elif ch == 0x29:
                    bal -= 1
                j += 1
            if bal:
                raise ValueError("pdf: unterminated literal string")
            self.pos = j
            return b""
        if c in b"+-.0123456789":
            word = self.keyword()
            try:
                num: object = int(word)
            except ValueError:
                try:
                    num = float(word)
                except ValueError as e:
                    raise ValueError(f"pdf: bad number {word!r}") from e
                return num
            # an int may start an indirect reference: <int> <int> R
            save = self.pos
            self._skip_ws()
            if self.pos < n and b[self.pos] in b"0123456789":
                w2 = self.keyword()
                self._skip_ws()
                if b[self.pos : self.pos + 1] == b"R" and (
                    self.pos + 1 >= n
                    or b[self.pos + 1] in _WS
                    or b[self.pos + 1] in _DELIM
                ):
                    self.pos += 1
                    return _Ref(int(num), int(w2))
            self.pos = save
            return num
        word = self.keyword()
        if word == "true":
            return True
        if word == "false":
            return False
        if word == "null":
            return None
        raise ValueError(f"pdf: unexpected token {word!r}")


# An xref section's entries map obj num -> (offset, gen) for in-use,
# or None for a FREE tombstone (a newer revision freeing an object
# must shadow an older in-use entry — ISO 32000-1 §7.5.6).
def _parse_xref_table(payload: bytes, pos: int) -> tuple[dict, dict]:
    """One classic xref section + its trailer dict. Entries are the
    spec's exactly-20-byte records."""
    lex = _Lexer(payload, pos)
    lex._skip_ws()
    if payload[lex.pos : lex.pos + 4] != b"xref":
        raise ValueError("pdf: startxref does not point at an xref table")
    lex.pos += 4
    entries: dict[int, tuple[int, int] | None] = {}
    while True:
        lex._skip_ws()
        if payload[lex.pos : lex.pos + 7] == b"trailer":
            lex.pos += 7
            break
        start = lex.keyword()
        count = lex.keyword()
        if not (start.isdigit() and count.isdigit()):
            raise ValueError("pdf: bad xref subsection header")
        start_i, count_i = int(start), int(count)
        lex._skip_ws()
        for k in range(count_i):
            rec = payload[lex.pos : lex.pos + 20]
            if len(rec) != 20:
                raise ValueError("pdf: truncated xref entry")
            off_b, gen_b, kind = rec[0:10], rec[11:16], rec[17:18]
            if rec[10:11] != b" " or rec[16:17] != b" ":
                raise ValueError("pdf: malformed 20-byte xref entry")
            if not (off_b.isdigit() and gen_b.isdigit()) or kind not in (b"n", b"f"):
                raise ValueError("pdf: malformed 20-byte xref entry")
            entries[start_i + k] = (
                (int(off_b), int(gen_b)) if kind == b"n" else None
            )
            lex.pos += 20
    trailer = lex.value()
    if not isinstance(trailer, dict):
        raise ValueError("pdf: trailer is not a dictionary")
    return entries, trailer


def _decode_xref_stream_data(data: bytes, filt, dparms) -> tuple[bytes, int]:
    """Apply /Filter then reverse /DecodeParms on an xref stream's raw
    bytes → (decoded rows, predictor used). Only the combinations real
    writers emit for xref streams are accepted: no filter or
    FlateDecode, predictor 1 (none) or PNG 10-15 with 8-bit single-
    component rows (Columns = bytes per row)."""
    if isinstance(filt, list):
        if len(filt) != 1:
            raise NotImplementedError("pdf: xref stream filter chains not supported")
        filt = filt[0]
    if filt is None:
        raw = data
    elif isinstance(filt, _Name) and filt == "FlateDecode":
        try:
            raw = zlib.decompress(data)
        except zlib.error as e:
            raise ValueError(f"pdf: bad FlateDecode data ({e})") from e
    else:
        raise NotImplementedError(f"pdf: xref stream filter {filt!r} not supported")

    if isinstance(dparms, list):
        if len(dparms) != 1:
            raise NotImplementedError("pdf: xref stream filter chains not supported")
        dparms = dparms[0]
    if dparms is None:
        dparms = {}
    if not isinstance(dparms, dict):
        raise ValueError("pdf: /DecodeParms is not a dictionary")
    pred = dparms.get("Predictor", 1)
    if not isinstance(pred, int):
        raise ValueError("pdf: non-integer /Predictor")
    if pred == 1:
        return raw, 1
    if pred < 10:
        raise NotImplementedError("pdf: TIFF predictor not supported")
    colors = dparms.get("Colors", 1)
    bpc = dparms.get("BitsPerComponent", 8)
    if colors != 1 or bpc != 8:
        raise NotImplementedError("pdf: only 8-bit single-component predictor rows")
    stride = dparms.get("Columns", 1)
    if not isinstance(stride, int) or stride <= 0:
        raise ValueError("pdf: bad predictor /Columns")
    if len(raw) % (stride + 1):
        raise ValueError("pdf: predictor data is not whole filtered rows")
    from orionld_to_hive_spark.operators.multimodal import _png_unfilter

    px = _png_unfilter(raw, len(raw) // (stride + 1), stride, 1)
    return px.astype(np.uint8).tobytes(), pred


def _parse_xref_stream(payload: bytes, pos: int) -> tuple[dict, dict, int]:
    """One PDF 1.5 cross-reference stream (ISO 32000-1 §7.5.8) →
    (entries, trailer-equivalent stream dict, predictor). The /W row
    layout, /Index subsections, and free/in-use/ObjStm row types are
    all interpreted; type-2 rows (object streams) are refused."""
    lex = _Lexer(payload, pos)
    w_num, w_gen = lex.keyword(), lex.keyword()
    if not (w_num.isdigit() and w_gen.isdigit()):
        raise ValueError("pdf: startxref does not point at an xref section")
    lex.expect("obj")
    d = lex.value()
    if not isinstance(d, dict) or d.get("Type") != "XRef":
        raise ValueError("pdf: startxref object is not /Type /XRef")
    length = d.get("Length")
    # §7.5.8.2: an xref stream's dict entries must be direct values —
    # they are needed before any object can be resolved.
    if not isinstance(length, int) or length < 0:
        raise ValueError("pdf: xref stream without a direct /Length")
    lex._skip_ws()
    if payload[lex.pos : lex.pos + 6] != b"stream":
        raise ValueError("pdf: /Type /XRef object has no stream")
    p = lex.pos + 6
    if payload[p : p + 2] == b"\r\n":
        p += 2
    elif payload[p : p + 1] == b"\n":
        p += 1
    else:
        raise ValueError("pdf: stream keyword not followed by EOL")
    data = payload[p : p + length]
    if len(data) != length:
        raise ValueError("pdf: truncated xref stream data")
    tail = payload[p + length : p + length + 11]
    if not (tail.startswith(b"endstream")
            or tail.lstrip(b"\r\n").startswith(b"endstream")):
        raise ValueError("pdf: /Length does not frame endstream")

    raw, pred = _decode_xref_stream_data(data, d.get("Filter"), d.get("DecodeParms"))

    w = d.get("W")
    if (not isinstance(w, list) or len(w) != 3
            or not all(isinstance(x, int) and 0 <= x <= 8 for x in w)):
        raise ValueError("pdf: bad /W array")
    w1, w2, w3 = w
    row_w = w1 + w2 + w3
    if row_w == 0:
        raise ValueError("pdf: zero-width /W rows")
    size = d.get("Size")
    if not isinstance(size, int) or size <= 0:
        raise ValueError("pdf: xref stream without a usable /Size")
    index = d.get("Index", [0, size])
    if (not isinstance(index, list) or len(index) % 2
            or not all(isinstance(x, int) and x >= 0 for x in index)):
        raise ValueError("pdf: bad /Index array")
    total = sum(index[1::2])
    if len(raw) != total * row_w:
        raise ValueError(
            f"pdf: xref stream data is {len(raw)} bytes, "
            f"/Index x /W needs {total * row_w}"
        )

    entries: dict[int, tuple[int, int] | None] = {}
    pos_r = 0
    for i in range(0, len(index), 2):
        start, count = index[i], index[i + 1]
        for k in range(count):
            row = raw[pos_r : pos_r + row_w]
            pos_r += row_w
            f1 = int.from_bytes(row[:w1], "big") if w1 else 1
            f2 = int.from_bytes(row[w1 : w1 + w2], "big")
            f3 = int.from_bytes(row[w1 + w2 :], "big")
            num = start + k
            if f1 == 0:
                entries[num] = None  # free — shadows older in-use
            elif f1 == 1:
                entries[num] = (f2, f3)
            elif f1 == 2:
                raise NotImplementedError("pdf: object streams not supported")
            else:
                raise ValueError(f"pdf: unknown xref row type {f1}")
    return entries, d, pred


def _parse_xref_section(payload: bytes, pos: int) -> tuple[dict, dict, int]:
    """Dispatch one /Prev-chain link: classic `xref` table (predictor
    reported as 0) or a PDF 1.5 xref stream. Both section kinds may
    appear in one chain (incremental updates by different writers)."""
    lex = _Lexer(payload, pos)
    lex._skip_ws()
    if payload[lex.pos : lex.pos + 4] == b"xref":
        entries, trailer = _parse_xref_table(payload, pos)
        return entries, trailer, 0
    return _parse_xref_stream(payload, pos)


class _Doc:
    """Merged view of a classic-xref PDF: object map + resolver."""

    def __init__(self, payload: bytes):
        self.b = payload
        if not payload.startswith(b"%PDF-"):
            raise ValueError("pdf: missing %PDF header")
        ver = payload[5 : payload.find(b"\n", 0, 32) if b"\n" in payload[:32] else 16]
        ver = ver.split(b"\r")[0].strip()
        if len(ver) != 3 or ver[1:2] != b"." or not (ver[:1].isdigit() and ver[2:].isdigit()):
            raise ValueError(f"pdf: bad version {ver!r}")
        self.version = ver.decode("ascii")

        tail = payload[-2048:]
        sx = tail.rfind(b"startxref")
        if sx < 0:
            raise ValueError("pdf: no startxref")
        lex = _Lexer(tail, sx + len(b"startxref"))
        off_w = lex.keyword()
        if not off_w.isdigit():
            raise ValueError("pdf: non-numeric startxref offset")
        p = lex.pos
        while p < len(tail) and tail[p] in _WS:  # NOT _skip_ws: '%' here IS the marker
            p += 1
        if tail[p : p + 5] != b"%%EOF":
            raise ValueError("pdf: startxref not followed by %%EOF")

        # Walk the /Prev chain newest-first; newer entries shadow older
        # (free tombstones included — a newer revision's `f` row hides
        # an older revision's in-use object).
        merged: dict[int, tuple[int, int] | None] = {}
        self.trailer: dict | None = None
        self.n_revisions = 0
        self.n_xref_streams = 0
        self.predictor = 0  # newest revision's (0 = classic table)
        seen: set[int] = set()
        off: int | None = int(off_w)
        while off is not None:
            if off in seen:
                raise ValueError("pdf: /Prev cycle in the xref chain")
            seen.add(off)
            if off >= len(payload):
                raise ValueError("pdf: startxref offset out of bounds")
            entries, trailer, pred = _parse_xref_section(payload, off)
            for num, rec in entries.items():
                merged.setdefault(num, rec)
            if self.trailer is None:
                self.trailer = trailer
                self.predictor = pred
            if pred != 0:  # _parse_xref_section: 0 ⟺ classic table
                self.n_xref_streams += 1
            # Hybrid-reference files (ISO 32000-1 §7.5.8.4): a classic
            # trailer's /XRefStm names a cross-reference STREAM holding
            # the entries hidden from pre-1.5 readers. It is read
            # after this revision's own table (same-revision classic
            # entries win) and BEFORE /Prev (its entries shadow older
            # revisions). Its own /Prev, if any, is ignored — the
            # classic chain governs.
            xs = trailer.get("XRefStm")
            if xs is not None:
                if not isinstance(xs, int) or xs < 0 or xs >= len(payload):
                    raise ValueError("pdf: bad /XRefStm offset")
                s_entries, _, _ = _parse_xref_stream(payload, xs)
                for num, rec in s_entries.items():
                    merged.setdefault(num, rec)
                self.n_xref_streams += 1
            self.n_revisions += 1
            prev = trailer.get("Prev")
            if prev is not None and not isinstance(prev, int):
                raise ValueError("pdf: non-integer /Prev")
            off = prev
        assert self.trailer is not None
        if "Encrypt" in self.trailer:
            raise NotImplementedError("pdf: encrypted documents not supported")
        for key in ("Size", "Root"):
            if key not in self.trailer:
                raise ValueError(f"pdf: trailer missing /{key}")
        merged.pop(0, None)  # the head of the free list
        self.entries: dict[int, tuple[int, int]] = {
            num: rec for num, rec in merged.items() if rec is not None
        }
        if self.entries and max(self.entries) >= self.trailer["Size"]:
            raise ValueError("pdf: /Size does not bound the object numbers")
        self._cache: dict[int, tuple[object, int]] = {}
        self._resolving: set[int] = set()

    def object(self, ref: _Ref) -> tuple[object, int]:
        """→ (value, stream_length) — stream_length −1 when the object
        has no stream. Verifies the xref offset points at `num gen obj`
        and that /Length frames `endstream` exactly. An indirect /Length
        that leads back to an object still being resolved (its own
        stream, or a cycle through others) is a ValueError."""
        if ref.num in self._cache:
            return self._cache[ref.num]
        if ref.num not in self.entries:
            raise ValueError(f"pdf: reference to absent object {ref.num}")
        if ref.num in self._resolving:
            raise ValueError(f"pdf: reference cycle through object {ref.num}")
        self._resolving.add(ref.num)
        try:
            resolved = self._resolve(ref)
        finally:
            self._resolving.discard(ref.num)
        self._cache[ref.num] = resolved
        return resolved

    def _resolve(self, ref: _Ref) -> tuple[object, int]:
        off, gen = self.entries[ref.num]
        if gen != ref.gen:
            raise ValueError(f"pdf: generation mismatch on object {ref.num}")
        lex = _Lexer(self.b, off)
        w_num, w_gen = lex.keyword(), lex.keyword()
        if not (w_num.isdigit() and w_gen.isdigit()) or int(w_num) != ref.num or int(w_gen) != gen:
            raise ValueError(f"pdf: xref entry for {ref.num} points at {w_num!r} {w_gen!r}")
        lex.expect("obj")
        val = lex.value()
        lex._skip_ws()
        slen = -1
        if self.b[lex.pos : lex.pos + 6] == b"stream":
            if not isinstance(val, dict):
                raise ValueError("pdf: stream without a dictionary")
            if isinstance(val.get("Type"), _Name) and val["Type"] == "ObjStm":
                raise NotImplementedError("pdf: object streams not supported")
            length = val.get("Length")
            if isinstance(length, _Ref):
                lv, _ = self.object(length)
                if not isinstance(lv, int):
                    raise ValueError("pdf: indirect /Length is not an integer")
                length = lv
            if not isinstance(length, int) or length < 0:
                raise ValueError("pdf: stream without a usable /Length")
            p = lex.pos + 6
            if self.b[p : p + 2] == b"\r\n":
                p += 2
            elif self.b[p : p + 1] == b"\n":
                p += 1
            else:
                raise ValueError("pdf: stream keyword not followed by EOL")
            end = p + length
            tail = self.b[end : end + 11]
            if not (tail.startswith(b"endstream")
                    or tail.lstrip(b"\r\n").startswith(b"endstream")):
                raise ValueError("pdf: /Length does not frame endstream")
            slen = length
        return val, slen

    def _count_pages(self, ref: _Ref, depth: int = 0) -> int:
        if depth > 16:
            raise ValueError("pdf: page tree too deep")
        node, _ = self.object(ref)
        if not isinstance(node, dict):
            raise ValueError("pdf: page-tree node is not a dictionary")
        t = node.get("Type")
        if t == "Page":
            return 1
        if t != "Pages":
            raise ValueError(f"pdf: unexpected page-tree node type {t!r}")
        kids = node.get("Kids")
        if not isinstance(kids, list) or not all(isinstance(k, _Ref) for k in kids):
            raise ValueError("pdf: /Kids is not an array of references")
        total = sum(self._count_pages(k, depth + 1) for k in kids)
        count = node.get("Count")
        if count != total:
            raise ValueError(f"pdf: /Count {count!r} != walked page count {total}")
        return total


def parse_pdf_meta(payload: bytes) -> PdfMeta:
    doc = _Doc(payload)
    root = doc.trailer["Root"]
    if not isinstance(root, _Ref):
        raise ValueError("pdf: /Root is not a reference")
    cat, _ = doc.object(root)
    if not isinstance(cat, dict) or cat.get("Type") != "Catalog":
        raise ValueError("pdf: /Root does not resolve to a catalog")
    pages_ref = cat.get("Pages")
    if not isinstance(pages_ref, _Ref):
        raise ValueError("pdf: catalog without a /Pages reference")
    n_pages = doc._count_pages(pages_ref)

    content = 0
    for num in sorted(doc.entries):
        val, slen = doc.object(_Ref(num, doc.entries[num][1]))
        # /Type /XRef streams are cross-reference metadata, not
        # document content — exclude them from the byte accounting
        # (classic-xref documents have none, so this is a no-op there).
        if slen >= 0 and not (isinstance(val, dict) and val.get("Type") == "XRef"):
            content += slen
    return PdfMeta(
        version=doc.version,
        n_objects=len(doc.entries),
        n_pages=n_pages,
        content_bytes=content,
        n_revisions=doc.n_revisions,
        n_xref_streams=doc.n_xref_streams,
        predictor=doc.predictor,
    )


# --------------------------------------------------------------------------
# Fixture writer — real multi-object, optionally multi-revision PDFs.


def encode_pdf(doc_id: int, text: bytes) -> bytes:
    """Classic-xref PDF: catalog(1), pages(2), n = 1 + id%4 page
    objects, one content stream per page (page 0 carries the text,
    the rest a 5-byte placeholder). Even ids store the first stream's
    /Length as an INDIRECT integer object. ids % 3 == 0 append an
    incremental update replacing the catalog (a /Prev-chained second
    revision whose entry shadows revision 1's)."""
    n = 1 + doc_id % 4
    version = f"1.{4 + doc_id % 4}"
    indirect_len = doc_id % 2 == 0
    page_objs = list(range(3, 3 + n))
    content_objs = list(range(3 + n, 3 + 2 * n))
    len_obj = 3 + 2 * n  # only when indirect_len

    out = bytearray()
    offsets: dict[int, int] = {}
    out += f"%PDF-{version}\n".encode() + b"%\xe2\xe3\xcf\xd3\n"

    def emit(num: int, body: bytes) -> None:
        offsets[num] = len(out)
        out.extend(f"{num} 0 obj\n".encode() + body + b"\nendobj\n")

    emit(1, b"<< /Type /Catalog /Pages 2 0 R >>")
    kids = " ".join(f"{p} 0 R" for p in page_objs)
    emit(2, f"<< /Type /Pages /Kids [{kids}] /Count {n} >>".encode())
    for i, (p, c) in enumerate(zip(page_objs, content_objs)):
        emit(p, f"<< /Type /Page /Parent 2 0 R /Contents {c} 0 R >>".encode())
    for i, c in enumerate(content_objs):
        data = text if i == 0 else b"BT ET"
        if i == 0 and indirect_len:
            ldecl = f"{len_obj} 0 R"
        else:
            ldecl = str(len(data))
        emit(c, f"<< /Length {ldecl} >>\nstream\n".encode() + data + b"\nendstream")
    if indirect_len:
        emit(len_obj, str(len(text)).encode())

    size = (len_obj if indirect_len else len_obj - 1) + 1
    xref1 = len(out)
    out += b"xref\n" + f"0 {size}\n".encode()
    out += b"0000000000 65535 f \r"
    for num in range(1, size):
        out += f"{offsets[num]:010d} 00000 n \r".encode()
    out += f"trailer\n<< /Size {size} /Root 1 0 R >>\nstartxref\n{xref1}\n%%EOF\n".encode()

    if doc_id % 3 == 0:  # incremental update: shadow the catalog
        off_cat2 = len(out)
        out += b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R /PageMode /UseNone >>\nendobj\n"
        xref2 = len(out)
        out += b"xref\n1 1\n" + f"{off_cat2:010d} 00000 n \r".encode()
        out += (
            f"trailer\n<< /Size {size} /Root 1 0 R /Prev {xref1} >>\n"
            f"startxref\n{xref2}\n%%EOF\n"
        ).encode()
    return bytes(out)


def _xref_stream_rows(
    rows: list[tuple[int, int, int]], w: tuple[int, int, int], predictor: int
) -> bytes:
    """Serialize (type, f2, f3) rows at /W widths, apply the PNG Up
    filter when predictor >= 10, FlateDecode-compress."""
    w1, w2, w3 = w
    data = bytearray()
    for f1, f2, f3 in rows:
        data += f1.to_bytes(w1, "big") + f2.to_bytes(w2, "big") + f3.to_bytes(w3, "big")
    if predictor >= 10:
        stride = w1 + w2 + w3
        filtered = bytearray()
        prev = bytes(stride)
        for i in range(0, len(data), stride):
            row = bytes(data[i : i + stride])
            filtered += b"\x02" + bytes((a - b) % 256 for a, b in zip(row, prev))
            prev = row
        data = filtered
    return zlib.compress(bytes(data))


def encode_pdf_xref(doc_id: int, text: bytes) -> bytes:
    """PDF 1.5+ twin of encode_pdf whose cross-reference machinery is
    xref STREAMS (ISO 32000-1 §7.5.8): same catalog/pages/content
    layout, but each revision's xref is a FlateDecoded /Type /XRef
    stream — /W width mix varies with doc_id % 3, even ids run the
    PNG Up predictor (/DecodeParms /Predictor 12), and ids % 3 == 0
    append an incremental update whose second xref stream /Prev-chains
    to the first and shadows the catalog."""
    n = 1 + doc_id % 4
    version = f"1.{5 + doc_id % 3}"
    indirect_len = doc_id % 2 == 0
    predictor = 12 if doc_id % 2 == 0 else 1
    w = ((1, 3, 1), (1, 4, 1), (1, 4, 2))[doc_id % 3]
    page_objs = list(range(3, 3 + n))
    content_objs = list(range(3 + n, 3 + 2 * n))
    len_obj = 3 + 2 * n  # only when indirect_len
    xref1_obj = len_obj + 1 if indirect_len else len_obj

    out = bytearray()
    offsets: dict[int, int] = {}
    out += f"%PDF-{version}\n".encode() + b"%\xe2\xe3\xcf\xd3\n"

    def emit(num: int, body: bytes) -> None:
        offsets[num] = len(out)
        out.extend(f"{num} 0 obj\n".encode() + body + b"\nendobj\n")

    emit(1, b"<< /Type /Catalog /Pages 2 0 R >>")
    kids = " ".join(f"{p} 0 R" for p in page_objs)
    emit(2, f"<< /Type /Pages /Kids [{kids}] /Count {n} >>".encode())
    for p, c in zip(page_objs, content_objs):
        emit(p, f"<< /Type /Page /Parent 2 0 R /Contents {c} 0 R >>".encode())
    for i, c in enumerate(content_objs):
        data = text if i == 0 else b"BT ET"
        ldecl = f"{len_obj} 0 R" if (i == 0 and indirect_len) else str(len(data))
        emit(c, f"<< /Length {ldecl} >>\nstream\n".encode() + data + b"\nendstream")
    if indirect_len:
        emit(len_obj, str(len(text)).encode())

    def emit_xref(num: int, size: int, index: list[int],
                  rows: list[tuple[int, int, int]], prev: int | None) -> int:
        off = len(out)
        offsets[num] = off
        comp = _xref_stream_rows(rows, w, predictor)
        parms = (
            f" /DecodeParms << /Predictor {predictor} /Columns {sum(w)} >>"
            if predictor >= 10 else ""
        )
        prev_s = f" /Prev {prev}" if prev is not None else ""
        idx = " ".join(str(x) for x in index)
        out.extend(
            f"{num} 0 obj\n<< /Type /XRef /Size {size} /Root 1 0 R"
            f" /W [{w[0]} {w[1]} {w[2]}] /Index [{idx}]"
            f" /Filter /FlateDecode{parms}{prev_s}"
            f" /Length {len(comp)} >>\nstream\n".encode()
        )
        out.extend(comp)
        out.extend(b"\nendstream\nendobj\n")
        out.extend(f"startxref\n{off}\n%%EOF\n".encode())
        return off

    size1 = xref1_obj + 1
    rows1: list[tuple[int, int, int]] = [(0, 0, 0)]  # obj 0: free head
    # offsets[xref1_obj] is assigned inside emit_xref BEFORE the rows
    # serialize — the stream's own entry points at itself.
    offsets[xref1_obj] = len(out)
    rows1 += [(1, offsets[num], 0) for num in range(1, xref1_obj)]
    rows1.append((1, offsets[xref1_obj], 0))
    xref1 = emit_xref(xref1_obj, size1, [0, size1], rows1, None)

    if doc_id % 3 == 0:  # incremental update: shadow the catalog
        off_cat2 = len(out)
        out += b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R /PageMode /UseNone >>\nendobj\n"
        xref2_obj = size1
        offsets[xref2_obj] = len(out)
        rows2 = [(1, off_cat2, 0), (1, offsets[xref2_obj], 0)]
        emit_xref(xref2_obj, size1 + 1, [1, 1, xref2_obj, 1], rows2, xref1)
    return bytes(out)


def encode_pdf_hybrid(doc_id: int, text: bytes) -> bytes:
    """Hybrid-reference fixture (ISO 32000-1 §7.5.8.4 — how Acrobat
    writes backward-compatible files): the classic table lists the
    document's visible objects, while an extra /Info-style object and
    the xref STREAM object itself are listed ONLY in the stream the
    trailer's /XRefStm points at — a pre-1.5 reader sees a working
    document, a 1.5 reader sees two more objects. Even ids run the
    PNG Up predictor on the stream."""
    n = 1 + doc_id % 4
    predictor = 12 if doc_id % 2 == 0 else 1
    w = (1, 3, 1)
    page_objs = list(range(3, 3 + n))
    content_objs = list(range(3 + n, 3 + 2 * n))
    info_obj = 3 + 2 * n  # ONLY in the XRefStm
    xref_obj = info_obj + 1  # the stream object itself, also hidden

    out = bytearray()
    offsets: dict[int, int] = {}
    out += b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n"

    def emit(num: int, body: bytes) -> None:
        offsets[num] = len(out)
        out.extend(f"{num} 0 obj\n".encode() + body + b"\nendobj\n")

    emit(1, b"<< /Type /Catalog /Pages 2 0 R >>")
    kids = " ".join(f"{p} 0 R" for p in page_objs)
    emit(2, f"<< /Type /Pages /Kids [{kids}] /Count {n} >>".encode())
    for p, c in zip(page_objs, content_objs):
        emit(p, f"<< /Type /Page /Parent 2 0 R /Contents {c} 0 R >>".encode())
    for i, c in enumerate(content_objs):
        data = text if i == 0 else b"BT ET"
        emit(c, f"<< /Length {len(data)} >>\nstream\n".encode() + data
             + b"\nendstream")
    emit(info_obj, f"<< /Producer (graft) /DocSeq {doc_id} >>".encode())

    # the hidden xref STREAM: entries for info_obj and itself
    offsets[xref_obj] = len(out)
    rows = [(1, offsets[info_obj], 0), (1, offsets[xref_obj], 0)]
    comp = _xref_stream_rows(rows, w, predictor)
    parms = (
        f" /DecodeParms << /Predictor {predictor} /Columns {sum(w)} >>"
        if predictor >= 10 else ""
    )
    size = xref_obj + 1
    out.extend(
        f"{xref_obj} 0 obj\n<< /Type /XRef /Size {size} /Root 1 0 R"
        f" /W [1 3 1] /Index [{info_obj} 2]"
        f" /Filter /FlateDecode{parms}"
        f" /Length {len(comp)} >>\nstream\n".encode()
    )
    out.extend(comp)
    out.extend(b"\nendstream\nendobj\n")
    xref_stm_off = offsets[xref_obj]

    # the classic table: objects 0..info_obj-1 only
    xref1 = len(out)
    out += b"xref\n" + f"0 {info_obj}\n".encode()
    out += b"0000000000 65535 f \r"
    for num in range(1, info_obj):
        out += f"{offsets[num]:010d} 00000 n \r".encode()
    out += (
        f"trailer\n<< /Size {size} /Root 1 0 R /XRefStm {xref_stm_off} >>\n"
        f"startxref\n{xref1}\n%%EOF\n"
    ).encode()
    return bytes(out)


# --------------------------------------------------------------------------
# Spark query

PDF_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("version", T.StringType(), True),
        T.StructField("n_objects", T.IntegerType(), True),
        T.StructField("n_pages", T.IntegerType(), True),
        T.StructField("content_bytes", T.LongType(), True),
        T.StructField("n_revisions", T.IntegerType(), True),
    ]
)


def multimodal_pdf_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents → PDF fixtures (see encode_pdf) → structural triage.
    The startxref chase, /Prev chain merge, entry verification,
    indirect-/Length resolution, and page-tree walk are all on the
    oracle path for every graded row."""
    docs = load_docs_spread(spark, sf_dir, "doc_id", "text")

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, vs, no, np_, cb, nr = [], [], [], [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                d = int(doc_id)
                m = parse_pdf_meta(encode_pdf(d, (text or "").encode("utf-8")))
                ids.append(d)
                vs.append(m.version)
                no.append(m.n_objects)
                np_.append(m.n_pages)
                cb.append(m.content_bytes)
                nr.append(m.n_revisions)
            yield pd.DataFrame(
                {
                    "asset_id": pd.Series(ids, dtype="int64"),
                    "version": pd.Series(vs, dtype="object"),
                    "n_objects": pd.Series(no, dtype="int32"),
                    "n_pages": pd.Series(np_, dtype="int32"),
                    "content_bytes": pd.Series(cb, dtype="int64"),
                    "n_revisions": pd.Series(nr, dtype="int32"),
                }
            )

    return docs.mapInPandas(run, PDF_SCHEMA)


# closed forms of encode_pdf: n = 1 + id%4 pages; objects = catalog +
# pages + n pages + n streams + (indirect-length int for even ids);
# content = text bytes + 5 per placeholder page; 2 revisions at id%3==0.
PDF_SQL = """
SELECT doc_id AS asset_id,
       '1.' || CAST(4 + doc_id % 4 AS VARCHAR) AS version,
       CAST(2 + 2 * (1 + doc_id % 4)
            + CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS INTEGER)
         AS n_objects,
       CAST(1 + doc_id % 4 AS INTEGER) AS n_pages,
       CAST(octet_length(encode(text)) + 5 * (doc_id % 4) AS BIGINT)
         AS content_bytes,
       CAST(CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS INTEGER)
         AS n_revisions
FROM documents
ORDER BY asset_id
"""


XREF_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("version", T.StringType(), True),
        T.StructField("n_objects", T.IntegerType(), True),
        T.StructField("n_pages", T.IntegerType(), True),
        T.StructField("content_bytes", T.LongType(), True),
        T.StructField("n_revisions", T.IntegerType(), True),
        T.StructField("n_xref_streams", T.IntegerType(), True),
        T.StructField("predictor", T.IntegerType(), True),
    ]
)


def pdf_xref_stream_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents → PDF 1.5 xref-STREAM fixtures (encode_pdf_xref) →
    the same structural triage as multimodal_pdf_meta, but every
    graded row now also exercises the §7.5.8 machinery: FlateDecode,
    PNG Up unfiltering (even ids), three /W width mixes, /Index
    subsections, and stream→stream /Prev chaining (ids % 3 == 0)."""
    docs = load_docs_spread(spark, sf_dir, "doc_id", "text")

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            cols: dict[str, list] = {k: [] for k in (
                "asset_id", "version", "n_objects", "n_pages",
                "content_bytes", "n_revisions", "n_xref_streams", "predictor")}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                d = int(doc_id)
                m = parse_pdf_meta(encode_pdf_xref(d, (text or "").encode("utf-8")))
                cols["asset_id"].append(d)
                cols["version"].append(m.version)
                cols["n_objects"].append(m.n_objects)
                cols["n_pages"].append(m.n_pages)
                cols["content_bytes"].append(m.content_bytes)
                cols["n_revisions"].append(m.n_revisions)
                cols["n_xref_streams"].append(m.n_xref_streams)
                cols["predictor"].append(m.predictor)
            yield pd.DataFrame(
                {
                    "asset_id": pd.Series(cols["asset_id"], dtype="int64"),
                    "version": pd.Series(cols["version"], dtype="object"),
                    "n_objects": pd.Series(cols["n_objects"], dtype="int32"),
                    "n_pages": pd.Series(cols["n_pages"], dtype="int32"),
                    "content_bytes": pd.Series(cols["content_bytes"], dtype="int64"),
                    "n_revisions": pd.Series(cols["n_revisions"], dtype="int32"),
                    "n_xref_streams": pd.Series(cols["n_xref_streams"], dtype="int32"),
                    "predictor": pd.Series(cols["predictor"], dtype="int32"),
                }
            )

    return docs.mapInPandas(run, XREF_SCHEMA)


# closed forms of encode_pdf_xref: n = 1 + id%4 pages; in-use objects
# = catalog + pages + n pages + n streams + (indirect-length int for
# even ids) + one xref-stream object per revision; content excludes
# the xref streams; 2 revisions (both streams) at id%3==0; predictor
# 12 (PNG Up) for even ids else 1.
PDF_XREF_SQL = """
SELECT doc_id AS asset_id,
       '1.' || CAST(5 + doc_id % 3 AS VARCHAR) AS version,
       CAST(3 + 2 * (1 + doc_id % 4)
            + CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END
            + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS INTEGER)
         AS n_objects,
       CAST(1 + doc_id % 4 AS INTEGER) AS n_pages,
       CAST(octet_length(encode(text)) + 5 * (doc_id % 4) AS BIGINT)
         AS content_bytes,
       CAST(CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS INTEGER)
         AS n_revisions,
       CAST(CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS INTEGER)
         AS n_xref_streams,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 12 ELSE 1 END AS INTEGER)
         AS predictor
FROM documents
ORDER BY asset_id
"""


HYBRID_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("n_objects", T.IntegerType(), True),
        T.StructField("n_pages", T.IntegerType(), True),
        T.StructField("content_bytes", T.LongType(), True),
        T.StructField("n_xref_streams", T.IntegerType(), True),
    ]
)


def pdf_hybrid_xref_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents → hybrid-reference fixtures (encode_pdf_hybrid) →
    triage. Two of each asset's objects exist ONLY in the /XRefStm
    stream, so the object count certifies that the hybrid merge ran —
    a classic-only walk would read 2 fewer objects per asset."""
    docs = load_docs_spread(spark, sf_dir, "doc_id", "text")

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, no, np_, cb, nx = [], [], [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                d = int(doc_id)
                m = parse_pdf_meta(encode_pdf_hybrid(d, (text or "").encode("utf-8")))
                ids.append(d)
                no.append(m.n_objects)
                np_.append(m.n_pages)
                cb.append(m.content_bytes)
                nx.append(m.n_xref_streams)
            yield pd.DataFrame(
                {
                    "asset_id": pd.Series(ids, dtype="int64"),
                    "n_objects": pd.Series(no, dtype="int32"),
                    "n_pages": pd.Series(np_, dtype="int32"),
                    "content_bytes": pd.Series(cb, dtype="int64"),
                    "n_xref_streams": pd.Series(nx, dtype="int32"),
                }
            )

    return docs.mapInPandas(run, HYBRID_SCHEMA)


# closed forms of encode_pdf_hybrid: 2 + 2n visible objects + the two
# stream-only ones (info + the xref stream itself).
PDF_HYBRID_SQL = """
SELECT doc_id AS asset_id,
       CAST(4 + 2 * (1 + doc_id % 4) AS INTEGER) AS n_objects,
       CAST(1 + doc_id % 4 AS INTEGER) AS n_pages,
       CAST(octet_length(encode(text)) + 5 * (doc_id % 4) AS BIGINT)
         AS content_bytes,
       1 AS n_xref_streams
FROM documents
ORDER BY asset_id
"""


QUERIES = {
    "multimodal_pdf_meta": multimodal_pdf_meta,
    "pdf_xref_stream_meta": pdf_xref_stream_meta,
    "pdf_hybrid_xref_meta": pdf_hybrid_xref_meta,
}

ORACLES = {
    "multimodal_pdf_meta": PDF_SQL,
    "pdf_xref_stream_meta": PDF_XREF_SQL,
    "pdf_hybrid_xref_meta": PDF_HYBRID_SQL,
}
