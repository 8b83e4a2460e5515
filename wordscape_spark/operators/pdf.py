"""PDF text + figure ingestion — the "PDF/layout parse" leg of the
extraction pipeline (north rule), implemented as a pure-stdlib reader
for the ISO 32000-1 structures involved.

The reference's PDF surface is pdfplumber word extraction over
LibreOffice-rendered pages (reference
app/src/annotation/annotation_pipeline.py — the geometry loop SURVEY §2
adjudicates obsolete, C16).  This module ingests PDFs DIRECTLY instead:
document object graph → page tree → content streams → text/figure spans
in the interleaved grammar, so ``extract()`` runs unchanged downstream
and PDF input joins .docx / legacy-.doc / HTML as a first-class source.

Reader structure (each layer a real spec structure):

* **xref + trailer** (§7.5): ``startxref`` → single- or multi-section
  cross-reference table → object byte offsets; trailer /Root (and /Prev
  chains for incrementally-updated files).
* **object parser** (§7.3): recursive-descent tokenizer for dictionaries,
  arrays, names (#xx escapes), numbers, literal strings (octal/char
  escapes, nested parens, line-continuation), hex strings, booleans,
  null, and ``n g R`` indirect references; streams with direct OR
  indirect /Length and optional /Filter /FlateDecode (zlib).
* **page tree walk** (§7.7.3): /Root → /Pages → /Kids recursion with
  resource INHERITANCE — a page without /Resources (or without a /Font
  subdict) inherits from its ancestors, and page-local /XObject entries
  merge over inherited ones.
* **content interpreter** (§8/§9): operand-stack scan of the page's
  /Contents (single stream or array, concatenated); ``Tf`` tracks the
  active font + size, each text-show op (``Tj``/``'``/``"``/``TJ``)
  emits one paragraph span, ``Do`` of an /Image XObject emits a ``fig``
  span whose media_ref is the XObject's /Name entry (hex-escaped name →
  UTF-8).  Page boundaries emit ``pb`` spans.
* **string decoding is FONT-driven** (§9.6.6, not string-form sniffing):
  a /WinAnsiEncoding simple font decodes cp1252; an /Identity-H Type0
  font decodes 2-byte code units as UTF-16BE (the code-unit convention
  the common generators emit under Identity-H).  Unknown fonts fall back
  to cp1252.

* **PDF 1.5 compressed structures** (§7.5.7/§7.5.8): cross-reference
  STREAMS (/Type /XRef with /W field widths, /Index subsections, and
  /DecodeParms PNG predictors — all five PNG row filters) and OBJECT
  streams (/Type /ObjStm header-offset table), interchangeable with
  classic xref tables across /Prev chains — the layout every modern
  generator emits.

Scope: text-show + image-XObject operators (the extraction-relevant
surface).  Not implemented: encryption, non-Flate filters, CID-keyed
glyph remapping via embedded CMaps — a parse failure anywhere degrades
to an empty span list for that document (per-document fault isolation;
at 10^12 rows one bad file must never kill a job — the reference's
failed_*.jsonl model, annotator_process.py:199-282).

The independent inverse renderer lives in ``wordscape_spark/pdfgen.py``;
round-trip tests + the ``pdf_ingest``/``pdf_media`` driver queries pin
this chain against dual-dialect SQL oracles over the interleaved table.
"""

from __future__ import annotations

import re
import zlib
from typing import Iterator

from pyspark.sql import DataFrame

from wordscape_spark import signal as sig
from wordscape_spark.operators.extract import INPUT_SCHEMA
from wordscape_spark.sources.ingest import binary_to_rows

_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"

_STARTXREF_RE = re.compile(rb"startxref\s+(\d+)\s*%%EOF\s*$")


class Ref:
    __slots__ = ("num",)

    def __init__(self, num: int):
        self.num = num


class OpTok(bytes):
    """Bare (non-string) token — a content-stream operator or keyword.
    Distinct type so operators never collide with literal-string operands
    (both are bytes underneath)."""


_REF_RE = re.compile(rb"(\d+)\s+R(?![0-9A-Za-z])")


class Stream:
    __slots__ = ("dict", "raw")

    def __init__(self, d: dict, raw: bytes):
        self.dict = d
        self.raw = raw


class _Lexer:
    """Tokenizer over a bytes buffer (shared by the object parser and the
    content-stream interpreter)."""

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos

    def _skip_ws(self) -> None:
        d, n = self.data, len(self.data)
        while self.pos < n:
            c = self.data[self.pos]
            if c in _WS:
                self.pos += 1
            elif c == 0x25:  # % comment to EOL
                while self.pos < n and d[self.pos] not in (0x0A, 0x0D):
                    self.pos += 1
            else:
                return

    def peek_byte(self) -> int | None:
        self._skip_ws()
        if self.pos >= len(self.data):
            return None
        return self.data[self.pos]

    def _regular_token(self) -> bytes:
        d, n = self.data, len(self.data)
        start = self.pos
        while self.pos < n and d[self.pos] not in _WS \
                and d[self.pos] not in _DELIM:
            self.pos += 1
        return d[start:self.pos]

    def name(self) -> str:
        """Name token after '/': #xx-unescape then UTF-8."""
        self.pos += 1  # consume '/'
        tok = self._regular_token()
        if b"#" in tok:
            out = bytearray()
            i = 0
            while i < len(tok):
                if tok[i] == 0x23 and i + 2 < len(tok):
                    out += bytes([int(tok[i + 1:i + 3], 16)])
                    i += 3
                else:
                    out.append(tok[i])
                    i += 1
            tok = bytes(out)
        return tok.decode("utf-8", errors="replace")

    def literal_string(self) -> bytes:
        """Literal string after '(' with escapes and nested parens."""
        d, n = self.data, len(self.data)
        self.pos += 1
        out = bytearray()
        depth = 1
        while self.pos < n:
            c = d[self.pos]
            if c == 0x5C:  # backslash
                self.pos += 1
                e = d[self.pos]
                if 0x30 <= e <= 0x37:  # octal, up to 3 digits
                    oct_digits = [e - 0x30]
                    self.pos += 1
                    for _ in range(2):
                        if self.pos < n and 0x30 <= d[self.pos] <= 0x37:
                            oct_digits.append(d[self.pos] - 0x30)
                            self.pos += 1
                        else:
                            break
                    v = 0
                    for dg in oct_digits:
                        v = v * 8 + dg
                    out.append(v & 0xFF)
                    continue
                mapped = {0x6E: 0x0A, 0x72: 0x0D, 0x74: 0x09,
                          0x62: 0x08, 0x66: 0x0C, 0x28: 0x28,
                          0x29: 0x29, 0x5C: 0x5C}.get(e)
                if mapped is not None:
                    out.append(mapped)
                    self.pos += 1
                elif e in (0x0A, 0x0D):  # line continuation
                    self.pos += 1
                    if e == 0x0D and self.pos < n and d[self.pos] == 0x0A:
                        self.pos += 1
                else:
                    out.append(e)
                    self.pos += 1
            elif c == 0x28:
                depth += 1
                out.append(c)
                self.pos += 1
            elif c == 0x29:
                depth -= 1
                self.pos += 1
                if depth == 0:
                    return bytes(out)
                out.append(c)
            elif c in (0x0D, 0x0A):
                # unescaped EOL in a literal string reads as LF (§7.3.4.2)
                self.pos += 1
                if c == 0x0D and self.pos < n and d[self.pos] == 0x0A:
                    self.pos += 1
                out.append(0x0A)
            else:
                out.append(c)
                self.pos += 1
        return bytes(out)

    def hex_string(self) -> bytes:
        self.pos += 1  # '<'
        end = self.data.index(b">", self.pos)
        hx = bytes(
            c for c in self.data[self.pos:end] if c not in _WS
        ).decode("ascii")
        self.pos = end + 1
        if len(hx) % 2:
            hx += "0"
        return bytes.fromhex(hx)

    def value(self):
        """One object: dict/array/name/string/number/ref/bool/null."""
        c = self.peek_byte()
        if c is None:
            raise ValueError("eof")
        d = self.data
        if c == 0x2F:  # /
            return self.name()
        if c == 0x28:  # (
            return self.literal_string()
        if c == 0x3C:  # < or <<
            if d[self.pos + 1:self.pos + 2] == b"<":
                self.pos += 2
                out = {}
                while True:
                    b = self.peek_byte()
                    if b == 0x3E:  # >>
                        self.pos += 2
                        return out
                    key = self.name()
                    out[key] = self.value()
            return self.hex_string()
        if c == 0x5B:  # [
            self.pos += 1
            arr = []
            while True:
                b = self.peek_byte()
                if b == 0x5D:
                    self.pos += 1
                    return arr
                arr.append(self.value())
        tok = self._regular_token()
        if not tok:
            # stray delimiter (malformed input): consume one byte so the
            # caller's token loop always advances — hang-proof by design
            self.pos += 1
            return OpTok(d[self.pos - 1:self.pos])
        if tok == b"true":
            return True
        if tok == b"false":
            return False
        if tok == b"null":
            return None
        # number — possibly the start of an `n g R` indirect reference
        try:
            if b"." in tok or b"e" in tok or b"E" in tok:
                return float(tok)
            num = int(tok)
        except ValueError:
            # bare token: a content-stream operator (Tf, Tj, cm, ...)
            return OpTok(tok)
        save = self.pos
        self._skip_ws()
        m = _REF_RE.match(self.data, self.pos)
        if m:
            self.pos = m.end()
            return Ref(num)
        self.pos = save
        return num


def _png_unpredict(data: bytes, columns: int, bpp: int) -> bytes:
    """Reverse PNG row filters (RFC 2083 §6) — /Predictor ≥ 10: each row
    is one filter-type byte + ``columns`` filtered bytes; un-filter
    against the row above (type 2 Up is what xref-stream writers emit,
    but all five are implemented — the spec allows any per row)."""
    row_len = columns
    out = bytearray()
    prev = bytes(row_len)
    pos = 0
    while pos + 1 <= len(data):
        ft = data[pos]
        row = bytearray(data[pos + 1:pos + 1 + row_len])
        pos += 1 + row_len
        if ft == 1:  # Sub
            for i in range(bpp, len(row)):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif ft == 2:  # Up
            for i in range(len(row)):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(len(row)):
                left = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + (left + prev[i]) // 2) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(len(row)):
                a = row[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (
                    b if pb <= pc else c)
                row[i] = (row[i] + pred) & 0xFF
        elif ft != 0:
            raise ValueError(f"bad PNG filter type {ft}")
        out += row
        prev = bytes(row)
    return bytes(out)


class PdfFile:
    """Object-level reader: xref-driven random access with /Prev chains,
    classic xref TABLES and PDF 1.5 xref/object STREAMS both handled."""

    def __init__(self, data: bytes):
        self.data = data
        self.offsets: dict[int, int] = {}
        #: obj num → (object-stream num, index within it) — §7.5.8 type-2
        self.compressed: dict[int, tuple[int, int]] = {}
        self._cache: dict[int, object] = {}
        self.trailer: dict | None = None
        m = _STARTXREF_RE.search(data[-256:])
        if not m:
            raise ValueError("no startxref")
        self._read_xref(int(m.group(1)))
        if not isinstance(self.trailer, dict):
            raise ValueError("no trailer")

    def _read_stream_at(self, lex: "_Lexer", d: dict) -> Stream:
        """Raw stream whose dict has just been parsed by ``lex``
        (shared by ``get`` and the xref-stream bootstrap, which runs
        BEFORE ``self.offsets`` exists)."""
        lex._skip_ws()
        if self.data[lex.pos:lex.pos + 6] != b"stream":
            raise ValueError("expected stream")
        lex.pos += 6
        if self.data[lex.pos:lex.pos + 2] == b"\r\n":
            lex.pos += 2
        elif self.data[lex.pos:lex.pos + 1] == b"\n":
            lex.pos += 1
        length = self.resolve(d.get("Length"))
        return Stream(d, self.data[lex.pos:lex.pos + int(length)])

    def _read_xref(self, at: int) -> None:
        lex = _Lexer(self.data, at)
        save = lex.pos
        tok = lex._regular_token()
        if tok == b"xref":
            tr = self._read_xref_table(lex)
        else:
            lex.pos = save
            tr = self._read_xref_stream(lex)
        if self.trailer is None:
            self.trailer = tr
        prev = tr.get("Prev")
        if isinstance(prev, (int, float)):
            self._read_xref(int(prev))

    def _read_xref_table(self, lex: "_Lexer") -> dict:
        """Classic table (§7.5.4): subsections of 20-byte entries,
        followed by the ``trailer`` dict."""
        while True:
            b = lex.peek_byte()
            if b is None or not (0x30 <= b <= 0x39):
                break
            first = int(lex._regular_token())
            lex._skip_ws()
            count = int(lex._regular_token())
            for i in range(count):
                lex._skip_ws()
                entry = self.data[lex.pos:lex.pos + 20]
                lex.pos += 20
                if entry[17:18] == b"n":
                    num = first + i
                    if num not in self.offsets \
                            and num not in self.compressed:
                        self.offsets[num] = int(entry[:10])
        lex._skip_ws()
        if self.data[lex.pos:lex.pos + 7] != b"trailer":
            return {}
        lex.pos += 7
        tr = lex.value()
        return tr if isinstance(tr, dict) else {}

    def _read_xref_stream(self, lex: "_Lexer") -> dict:
        """Cross-reference stream (§7.5.8): ``n g obj`` header, /Type
        /XRef dict doubling as the trailer, entry fields packed per /W
        across the /Index subsections."""
        lex._skip_ws()
        int(lex._regular_token())  # object number
        lex._skip_ws()
        int(lex._regular_token())  # generation
        lex._skip_ws()
        if lex._regular_token() != b"obj":
            raise ValueError("bad xref-stream header")
        d = lex.value()
        if not isinstance(d, dict) or self.resolve(d.get("Type")) != "XRef":
            raise ValueError("not an xref stream")
        data = self.stream_data(self._read_stream_at(lex, d))
        widths = [int(x) for x in self.resolve(d.get("W")) or []]
        if len(widths) != 3:
            raise ValueError("bad /W")
        size = int(self.resolve(d.get("Size")))
        index = self.resolve(d.get("Index")) or [0, size]
        pos = 0
        for si in range(0, len(index) - 1, 2):
            first, count = int(index[si]), int(index[si + 1])
            for i in range(count):
                fields = []
                for wd in widths:
                    v = int.from_bytes(data[pos:pos + wd], "big")
                    pos += wd
                    fields.append(v)
                typ = fields[0] if widths[0] else 1  # §7.5.8.3 default
                num = first + i
                if num in self.offsets or num in self.compressed:
                    continue
                if typ == 1:
                    self.offsets[num] = fields[1]
                elif typ == 2:
                    self.compressed[num] = (fields[1], fields[2])
        return d

    def resolve(self, v):
        for _ in range(32):  # bounded: a ref cycle must not hang a task
            if not isinstance(v, Ref):
                return v
            v = self.get(v.num)
        raise ValueError("indirect-reference chain too deep")

    def get(self, num: int):
        if num in self._cache:
            return self._cache[num]
        if num in self.compressed:
            self._load_objstm(self.compressed[num][0])
            return self._cache.get(num)
        off = self.offsets.get(num)
        if off is None:
            return None
        lex = _Lexer(self.data, off)
        int(lex._regular_token())  # obj number
        lex._skip_ws()
        int(lex._regular_token())  # generation
        lex._skip_ws()
        if lex._regular_token() != b"obj":
            raise ValueError(f"object {num}: bad header")
        val = lex.value()
        # stream?
        save = lex.pos
        lex._skip_ws()
        if isinstance(val, dict) and \
                self.data[lex.pos:lex.pos + 6] == b"stream":
            lex.pos = save
            val = self._read_stream_at(lex, val)
        else:
            lex.pos = save
        self._cache[num] = val
        return val

    def _load_objstm(self, container: int) -> None:
        """Parse an object stream (§7.5.7) and cache EVERY member: the
        header is /N (obj num, byte offset) integer pairs, bodies start
        at /First."""
        if container in self.compressed:
            # §7.5.7: an object stream may not live inside another one —
            # a malformed cycle here must fail, not recurse forever
            raise ValueError(f"ObjStm {container} is itself compressed")
        objstm = self.get(container)
        if not isinstance(objstm, Stream) or \
                self.resolve(objstm.dict.get("Type")) != "ObjStm":
            raise ValueError(f"object {container}: not an ObjStm")
        data = self.stream_data(objstm)
        n = int(self.resolve(objstm.dict.get("N")))
        first = int(self.resolve(objstm.dict.get("First")))
        hdr = _Lexer(data[:first])
        pairs = []
        for _ in range(n):
            num = int(hdr._regular_token())
            hdr._skip_ws()
            off = int(hdr._regular_token())
            hdr._skip_ws()
            pairs.append((num, off))
        for num, off in pairs:
            if num not in self._cache:
                self._cache[num] = _Lexer(data, first + off).value()

    def stream_data(self, s: Stream) -> bytes:
        filt = self.resolve(s.dict.get("Filter"))
        if filt is None:
            return s.raw
        filters = filt if isinstance(filt, list) else [filt]
        parms = self.resolve(s.dict.get("DecodeParms"))
        parms_list = parms if isinstance(parms, list) else [parms]
        data = s.raw
        for i, f in enumerate(filters):
            f = self.resolve(f)
            if f == "FlateDecode":
                data = zlib.decompress(data)
            else:
                raise ValueError(f"unsupported filter {f}")
            p = self.resolve(parms_list[i]) if i < len(parms_list) else None
            if isinstance(p, dict):
                pred = int(self.resolve(p.get("Predictor")) or 1)
                if pred >= 10:
                    cols = int(self.resolve(p.get("Columns")) or 1)
                    colors = int(self.resolve(p.get("Colors")) or 1)
                    bpc = int(self.resolve(p.get("BitsPerComponent"))
                              or 8)
                    bpp = max(1, colors * bpc // 8)
                    data = _png_unpredict(data, cols * bpp, bpp)
                elif pred != 1:
                    raise ValueError(f"unsupported predictor {pred}")
        return data


# ---------------------------------------------------------------------------
# page tree + content interpretation
# ---------------------------------------------------------------------------


def _iter_pages(pdf: PdfFile) -> Iterator[tuple[dict, dict]]:
    """(page dict, effective /Resources) in document order, applying
    §7.7.3.4 inheritance: missing page entries come from ancestors, and
    subdicts (/Font, /XObject) MERGE with page-local entries winning."""
    root = pdf.resolve(pdf.trailer.get("Root")) or {}
    pages = pdf.resolve(root.get("Pages"))
    if not isinstance(pages, dict):
        return

    def merge_res(inherited: dict, local) -> dict:
        local = pdf.resolve(local)
        if not isinstance(local, dict):
            return inherited
        out = dict(inherited)
        for k, v in local.items():
            base = pdf.resolve(inherited.get(k))
            v = pdf.resolve(v)
            if isinstance(base, dict) and isinstance(v, dict):
                out[k] = {**base, **v}
            else:
                out[k] = v
        return out

    def walk(node: dict, res: dict) -> Iterator[tuple[dict, dict]]:
        res = merge_res(res, node.get("Resources"))
        t = pdf.resolve(node.get("Type"))
        if t == "Page":
            yield node, res
            return
        for kid in pdf.resolve(node.get("Kids")) or []:
            kid = pdf.resolve(kid)
            if isinstance(kid, dict):
                yield from walk(kid, res)

    yield from walk(pages, {})


def _font_table(pdf: PdfFile, res: dict) -> dict[str, tuple[bool, str]]:
    """Resource font name → (bold, codec).  Bold from /BaseFont; codec
    from /Encoding (§9.6.6): WinAnsi → cp1252, Identity-H → UTF-16BE
    code units."""
    fonts = pdf.resolve(res.get("Font")) or {}
    out = {}
    for name, fref in fonts.items():
        f = pdf.resolve(fref)
        if not isinstance(f, dict):
            continue
        base = str(pdf.resolve(f.get("BaseFont")) or "")
        enc = pdf.resolve(f.get("Encoding"))
        codec = "utf-16-be" if enc == "Identity-H" else "cp1252"
        out[name] = ("Bold" in base, codec)
    return out


def parse_pdf_bytes(data: bytes) -> list[dict]:
    """One PDF byte string → ordered span rows in the interleaved grammar:
    each text-show op is one body paragraph (font size from Tf, bold from
    the active font), each /Image Do is a ``fig`` span carrying the
    XObject's /Name as media_ref, page boundaries are ``pb`` spans.

    Spans follow LAYOUT reading order (north rule "PDF/layout parse"):
    the interpreter tracks geometry — the text matrix through
    ``Tm``/``Td``/``TD``/``T*`` (+ leading via ``TL``, ``'``/``"``
    implying a line advance) and the CTM through ``cm``/``q``/``Q``
    (translation × scale composition; rotation out of scope) — and each
    page's items are re-sorted top-to-bottom, left-to-right by anchor
    (text: line-matrix origin; image: TOP edge, ``f + d`` of the placing
    CTM).  Content streams that emit ops out of document order
    (multi-column generators, object-reuse writers, pdfgen's ``permute``
    mode) still yield reading order; paragraph numbers and offsets follow
    that order.
    """
    pdf = PdfFile(data)
    items: list = []
    first_page = True
    for page, res in _iter_pages(pdf):
        if not first_page:
            items.append(sig.PAGE_BREAK)
        first_page = False
        fonts = _font_table(pdf, res)
        xobjects = pdf.resolve(res.get("XObject")) or {}
        contents = pdf.resolve(page.get("Contents"))
        chunks = contents if isinstance(contents, list) else [contents]
        ops = b"\n".join(
            pdf.stream_data(pdf.resolve(c))
            for c in chunks
            if isinstance(pdf.resolve(c), Stream)
        )
        lex = _Lexer(ops)
        stack: list = []
        cur_bold, cur_codec, cur_size = False, "cp1252", 0.0
        # text state: line-matrix origin + leading (§9.4.2)
        tm_x, tm_y, tl = 0.0, 0.0, 0.0
        # graphics state: CTM as (a, d, e, f) — scale + translation
        ctm = (1.0, 1.0, 0.0, 0.0)
        gs_stack: list[tuple[float, float, float, float]] = []
        #: (sort_y, sort_x, emit_idx, item) for THIS page
        page_items: list[tuple[float, float, int, tuple]] = []

        def show(raw) -> None:
            if isinstance(raw, list):  # TJ: strings interleave kerning nums
                raw = b"".join(x for x in raw if isinstance(x, bytes))
            if not isinstance(raw, bytes):
                return
            text = raw.decode(cur_codec, errors="replace")
            page_items.append(
                (tm_y, tm_x, len(page_items), (text, "", cur_size, cur_bold))
            )

        def fnum(v) -> float:
            return float(v) if isinstance(v, (int, float)) else 0.0

        while True:
            try:
                if lex.peek_byte() is None:
                    break
                v = lex.value()
            except (ValueError, IndexError):
                break
            if not isinstance(v, OpTok):
                stack.append(v)
                continue
            op = bytes(v)
            if op == b"Tf" and len(stack) >= 2:
                fname = stack[-2]
                cur_size = fnum(stack[-1])
                cur_bold, cur_codec = fonts.get(
                    fname, (False, "cp1252")
                )
            elif op == b"BT":
                tm_x, tm_y = 0.0, 0.0
            elif op in (b"Td", b"TD") and len(stack) >= 2:
                tm_x += fnum(stack[-2])
                tm_y += fnum(stack[-1])
                if op == b"TD":
                    tl = -fnum(stack[-1])
            elif op == b"Tm" and len(stack) >= 6:
                tm_x, tm_y = fnum(stack[-2]), fnum(stack[-1])
            elif op == b"TL" and stack:
                tl = fnum(stack[-1])
            elif op == b"T*":
                tm_y -= tl
            elif op in (b"Tj", b"TJ") and stack:
                show(stack[-1])
            elif op in (b"'", b'"') and stack:
                tm_y -= tl  # ' and " imply a line advance (§9.4.3)
                show(stack[-1])
            elif op == b"cm" and len(stack) >= 6:
                a, d, e, f = (fnum(stack[-6]), fnum(stack[-3]),
                              fnum(stack[-2]), fnum(stack[-1]))
                pa, pd, pe, pf = ctm
                ctm = (a * pa, d * pd, e * pa + pe, f * pd + pf)
            elif op == b"q":
                gs_stack.append(ctm)
            elif op == b"Q":
                ctm = gs_stack.pop() if gs_stack else (1.0, 1.0, 0.0, 0.0)
            elif op == b"Do" and stack:
                xo = pdf.resolve(xobjects.get(stack[-1]))
                if isinstance(xo, Stream) and \
                        pdf.resolve(xo.dict.get("Subtype")) == "Image":
                    ref = pdf.resolve(xo.dict.get("Name"))
                    page_items.append(
                        (
                            ctm[3] + ctm[1],  # top edge: f + d (height)
                            ctm[2],
                            len(page_items),
                            ("fig", ref if isinstance(ref, str) else ""),
                        )
                    )
            stack.clear()
        page_items.sort(key=lambda t: (-t[0], t[1], t[2]))
        items.extend(it for *_, it in page_items)
    return sig.item_spans(items)


def pdf_to_spans(df: DataFrame) -> DataFrame:
    """Arrow-batched PDF ingestion: (doc_id, content binary) →
    (doc_id, spans) in geometry-sorted layout order.  Zero shuffle;
    per-document fault isolation — a malformed file yields an empty spans
    array (rejected downstream as min_text) instead of failing the task."""
    return binary_to_rows(df, parse_pdf_bytes, INPUT_SCHEMA)
