"""Independent PDF renderer — the docgen twin for ``operators/pdf.py``.

Renders interleaved documents (body paragraphs, page breaks, embedded
figures) into REAL PDF 1.4 byte streams built directly from the public
spec (ISO 32000-1): object graph with catalog → page tree → per-page
content streams, a single-section cross-reference table + trailer,
Standard-14 WinAnsi fonts for cp1252-encodable text and an Identity-H
Type0 font (UTF-16BE code units) for everything else, raw /DeviceRGB
Image XObjects for figure spans, and FlateDecode-compressed content
streams on a deterministic subset of documents.  It shares NOTHING with
the parser in ``operators/pdf.py`` but the span grammar — the round-trip
tests exercise the reader against bytes it did not produce-from-shared
code (the ``docgen_doc``/``doc_legacy`` pattern).

Deliberate structure choices that exercise the reader's paths:

* the /Font resource dict lives on the /Pages NODE, not the page —
  readers must implement resource INHERITANCE (ISO 32000-1 §7.7.3.4);
  /XObject resources are per-page and must MERGE with the inherited dict;
* documents whose md5(doc_id) is even get FlateDecode content streams
  whose /Length is an INDIRECT reference to a later object (the
  stream-follows-length-object layout every real generator emits);
* an independent md5 bit picks the PDF 1.5 layout: every non-stream
  object packed into an object stream (§7.5.7) and the cross-reference
  written as an xref STREAM (§7.5.8, /W [1 4 2]) — PNG-Up-predicted
  (/DecodeParms /Predictor 12) when the doc is also Flate-compressed —
  so readers must handle type-2 (compressed-object) entries, not just
  classic tables;
* pages holding ≥ 4 items split their content across a 2-element
  /Contents ARRAY (division between lexical tokens, §7.8.2);
* a third md5 bit REVERSES each page's content-stream op order
  (``permute``): every item carries explicit geometry (Td / cm at
  strictly descending y), the rendered page is unchanged, and only a
  reader that tracks the text matrix + CTM recovers document order —
  the writer-side proof obligation for the reader's layout mode;
* text strings: literal strings carry raw cp1252 bytes with (, ), \\ and
  control bytes octal-escaped; non-cp1252 paragraphs switch to the
  Identity-H font and hex strings of UTF-16BE code units — the common
  real-generator pattern the reader decodes by FONT ENCODING, not by
  sniffing the string form.

Scope (matches the reader): body ``r`` runs grouped per paragraph in
offset order (one text-show op per paragraph, font size/bold from the
paragraph's first run), ``fig`` spans as Image XObjects drawn with ``Do``
(the media_ref travels as the XObject's /Name entry, hex-escaped PDF name
— the in-file analog of the zip-internal media path a .docx carries),
``pb`` spans as page boundaries.  Header/footer/table/sdt/meta spans are
not representable in this flat layout and are skipped, mirroring the
.doc text-level scope (``signal.body_items``).

The reference never writes PDFs; its PDF surface is pdfplumber word
extraction over rendered pages (reference
app/src/annotation/annotation_pipeline.py pdfplumber usage — adjudicated
obsolete with the render loop in SURVEY §2 C16).  This module exists so
the ingestion leg the north rule names ("PDF/layout parse") is testable
end-to-end without that render loop.
"""

from __future__ import annotations

import hashlib
import zlib

from wordscape_spark import datagen
from wordscape_spark import signal as sig

BASE_DIR = datagen.DATA_DIR / "pdf"

_DEFAULT_SIZE = 11.0

# PDF name "regular" characters (ISO 32000-1 §7.3.5): printable ASCII
# minus delimiters, '#', and whitespace — everything else is #xx-escaped
_NAME_REGULAR = set(
    bytes(
        c
        for c in range(0x21, 0x7F)
        if chr(c) not in "()<>[]{}/%#"
    )
)


def _fmt_num(x: float) -> str:
    """PDF numeric token: integers without a decimal point."""
    if x == int(x):
        return str(int(x))
    return f"{x:g}"


def escape_name(s: str) -> str:
    """UTF-8 → PDF name token body with #xx escapes for irregular bytes."""
    out = []
    for b in s.encode("utf-8"):
        if b in _NAME_REGULAR:
            out.append(chr(b))
        else:
            out.append(f"#{b:02X}")
    return "".join(out)


def _literal_string(data: bytes) -> bytes:
    """Literal string token: raw bytes with delimiters/controls escaped
    (a bare CR/LF inside a literal string is read back as LF, §7.3.4.2 —
    so every control byte is octal-escaped to round-trip exactly)."""
    out = bytearray(b"(")
    for b in data:
        if b in (0x28, 0x29, 0x5C):  # ( ) \
            out.append(0x5C)
            out.append(b)
        elif b < 0x20 or b == 0x7F:
            out += f"\\{b:03o}".encode("ascii")
        else:
            out.append(b)
    out += b")"
    return bytes(out)


def _hex_string(text: str) -> bytes:
    return b"<" + text.encode("utf-16-be").hex().upper().encode() + b">"


def _text_token(text: str) -> tuple[bytes, bool]:
    """(string token, needs_unicode_font) for one paragraph's text."""
    try:
        return _literal_string(text.encode("cp1252")), False
    except UnicodeEncodeError:
        return _hex_string(text), True


# ---------------------------------------------------------------------------
# span projection (the writer-side scope contract)
# ---------------------------------------------------------------------------


def par_item(run: sig.RunSignal) -> dict:
    """One body paragraph → PDF item: font size/bold from its first run
    (``sz=-1`` ⇒ the 11 pt default)."""
    return {
        "type": "par",
        "text": run.text,
        "size": _DEFAULT_SIZE if run.size < 0 else run.size,
        "bold": run.bold is True,
    }


# ---------------------------------------------------------------------------
# PDF object graph
# ---------------------------------------------------------------------------


class _Writer:
    """``modern=False`` → classic PDF 1.4 layout (xref TABLE + trailer);
    ``modern=True`` → PDF 1.5: every non-stream object is packed into one
    object stream (§7.5.7) and the cross-reference is an xref STREAM
    (§7.5.8) — Flate-compressed, with the PNG Up predictor when
    ``predictor`` is set."""

    def __init__(self, modern: bool = False, predictor: bool = False):
        ver = b"%PDF-1.5" if modern else b"%PDF-1.4"
        self.buf = bytearray(ver + b"\n%\xe2\xe3\xcf\xd3\n")
        self.offsets: dict[int, int] = {}
        self.next_obj = 1
        self.modern = modern
        self.predictor = predictor
        #: (obj num, body) for objects deferred into the object stream
        self._objstm: list[tuple[int, bytes]] = []

    def reserve(self) -> int:
        n = self.next_obj
        self.next_obj += 1
        return n

    def put(self, num: int, body: bytes) -> None:
        if self.modern:
            self._objstm.append((num, body))
            return
        self.offsets[num] = len(self.buf)
        self.buf += f"{num} 0 obj\n".encode() + body + b"\nendobj\n"

    def put_stream(
        self, num: int, dict_body: bytes, data: bytes,
        indirect_length: int | None = None,
    ) -> None:
        if indirect_length is not None:
            length = f"/Length {indirect_length} 0 R".encode()
        else:
            length = f"/Length {len(data)}".encode()
        self.offsets[num] = len(self.buf)
        self.buf += (
            f"{num} 0 obj\n".encode()
            + b"<<" + length + dict_body + b">>\nstream\n"
            + data
            + b"\nendstream\nendobj\n"
        )
        if indirect_length is not None:
            self.put(indirect_length, str(len(data)).encode())

    def finish(self, root: int) -> bytes:
        if self.modern:
            return self._finish_modern(root)
        xref_at = len(self.buf)
        n = self.next_obj
        lines = [b"xref\n", f"0 {n}\n".encode(),
                 b"0000000000 65535 f \n"]
        for i in range(1, n):
            lines.append(f"{self.offsets[i]:010d} 00000 n \n".encode())
        self.buf += b"".join(lines)
        self.buf += (
            b"trailer\n<</Size " + str(n).encode()
            + b" /Root " + str(root).encode() + b" 0 R>>\n"
            + b"startxref\n" + str(xref_at).encode() + b"\n%%EOF\n"
        )
        return bytes(self.buf)

    def _finish_modern(self, root: int) -> bytes:
        # 1. flush the object stream: "n1 off1 n2 off2 ..." header, then
        #    member bodies at /First + offset
        container = self.reserve()
        bodies = bytearray()
        offs = []
        for num, body in self._objstm:
            offs.append((num, len(bodies)))
            bodies += body + b"\n"
        header = " ".join(f"{n} {o}" for n, o in offs).encode() + b"\n"
        data = zlib.compress(bytes(header) + bytes(bodies))
        self.offsets[container] = len(self.buf)
        self.buf += (
            f"{container} 0 obj\n<</Type /ObjStm /N {len(offs)} "
            f"/First {len(header)} /Filter /FlateDecode "
            f"/Length {len(data)}>>\nstream\n".encode()
            + data + b"\nendstream\nendobj\n"
        )
        # 2. the xref STREAM — itself an object, written at xref_at
        xnum = self.reserve()
        size = self.next_obj
        xref_at = len(self.buf)
        member_idx = {num: i for i, (num, _) in enumerate(self._objstm)}
        rows = bytearray()
        for i in range(size):
            if i == 0:
                t, f2, f3 = 0, 0, 65535
            elif i in member_idx:
                t, f2, f3 = 2, container, member_idx[i]
            elif i == xnum:
                t, f2, f3 = 1, xref_at, 0
            else:
                t, f2, f3 = 1, self.offsets[i], 0
            rows += bytes([t]) + f2.to_bytes(4, "big") \
                + f3.to_bytes(2, "big")
        if self.predictor:
            enc = bytearray()
            prev = bytes(7)
            for r in range(0, len(rows), 7):
                row = rows[r:r + 7]
                enc.append(2)  # PNG Up
                enc += bytes((row[i] - prev[i]) & 0xFF for i in range(7))
                prev = bytes(row)
            payload = zlib.compress(bytes(enc))
            parms = " /DecodeParms <</Predictor 12 /Columns 7>>"
        else:
            payload = zlib.compress(bytes(rows))
            parms = ""
        self.buf += (
            f"{xnum} 0 obj\n<</Type /XRef /Size {size} /W [1 4 2] "
            f"/Root {root} 0 R /Filter /FlateDecode{parms} "
            f"/Length {len(payload)}>>\nstream\n".encode()
            + payload + b"\nendstream\nendobj\n"
        )
        self.buf += (
            b"startxref\n" + str(xref_at).encode() + b"\n%%EOF\n"
        )
        return bytes(self.buf)


def _page_ops(
    items: list[dict], font_for: dict[tuple[bool, bool], str],
    xobj_names: list[str], permute: bool = False,
) -> bytes:
    """Content-stream operators for one page's items (one text-show op
    per paragraph; one Do per figure).  Each item carries its own
    explicit position (Td for text, cm for images) at a strictly
    descending y, so ``permute=True`` can emit the ops in REVERSED order
    — the rendered page is identical, but only a geometry-tracking
    reader (operators/pdf.py's layout reading order) recovers document
    order from the stream."""
    ops = []
    y = 760.0
    fig_i = 0
    for it in items:
        if it["type"] == "par":
            tok, uni = _text_token(it["text"])
            font = font_for[(it["bold"], uni)]
            ops.append(
                f"BT /{font} {_fmt_num(it['size'])} Tf 72 {_fmt_num(y)} Td "
                .encode() + tok + b" Tj ET"
            )
        else:  # fig
            ops.append(
                f"q 108 0 0 108 72 {_fmt_num(y - 100)} cm "
                f"/{xobj_names[fig_i]} Do Q".encode()
            )
            fig_i += 1
        y -= 16.0
    if permute:
        ops.reverse()
    return b"\n".join(ops)


def build_pdf(
    items: list[dict],
    compress: bool = False,
    modern: bool = False,
    permute: bool = False,
) -> bytes:
    """Render ordered items into PDF bytes.

    ``compress=True`` Flate-compresses the content streams.
    ``modern=True`` emits the PDF 1.5 layout:
    non-stream objects packed into an object stream, cross-reference as
    an xref stream (PNG-Up-predicted when ``compress`` is also set).
    ``permute=True`` reverses each page's content-stream op order (the
    page renders identically; document order is recoverable only from
    geometry)."""
    # split items into pages at pb boundaries
    pages: list[list[dict]] = [[]]
    for it in items:
        if it["type"] == "pb":
            pages.append([])
        else:
            pages[-1].append(it)

    w = _Writer(modern=modern, predictor=modern and compress)
    catalog = w.reserve()
    pages_node = w.reserve()
    f_reg = w.reserve()
    f_bold = w.reserve()
    u_reg = w.reserve()
    u_bold = w.reserve()
    u_desc = w.reserve()
    font_for = {(False, False): "F1", (True, False): "F2",
                (False, True): "U1", (True, True): "U2"}

    page_nums = []
    page_bodies = []  # deferred: (page_num, items, xobj entries)
    for pg_items in pages:
        pn = w.reserve()
        page_nums.append(pn)
        # figure XObjects for this page
        xobjs = []
        for it in pg_items:
            if it["type"] == "fig":
                xobjs.append((w.reserve(), it["ref"]))
        xobj_names = [f"X{i}" for i in range(len(xobjs))]
        ops = _page_ops(pg_items, font_for, xobj_names, permute=permute)
        # ≥4 items: split the ops across a 2-element /Contents array
        n_ops = sum(1 for it in pg_items if it["type"] != "pb")
        if n_ops >= 4:
            parts = ops.split(b"\n")
            half = len(parts) // 2
            chunks = [b"\n".join(parts[:half]), b"\n".join(parts[half:])]
        else:
            chunks = [ops]
        content_nums = [w.reserve() for _ in chunks]
        page_bodies.append(
            (pn, content_nums, chunks, xobjs, xobj_names)
        )

    w.put(catalog, b"<</Type /Catalog /Pages "
          + str(pages_node).encode() + b" 0 R>>")
    # fonts inherited from the Pages NODE (§7.7.3.4 resource inheritance)
    w.put(
        pages_node,
        b"<</Type /Pages /Kids ["
        + b" ".join(f"{p} 0 R".encode() for p in page_nums)
        + b"] /Count " + str(len(page_nums)).encode()
        + (f" /Resources <</Font <</F1 {f_reg} 0 R /F2 {f_bold} 0 R "
           f"/U1 {u_reg} 0 R /U2 {u_bold} 0 R>>>>").encode()
        + b">>",
    )
    w.put(f_reg, b"<</Type /Font /Subtype /Type1 /BaseFont /Helvetica "
          b"/Encoding /WinAnsiEncoding>>")
    w.put(f_bold, b"<</Type /Font /Subtype /Type1 "
          b"/BaseFont /Helvetica-Bold /Encoding /WinAnsiEncoding>>")
    w.put(u_reg, b"<</Type /Font /Subtype /Type0 /BaseFont /NotoSans "
          b"/Encoding /Identity-H /DescendantFonts ["
          + str(u_desc).encode() + b" 0 R]>>")
    w.put(u_bold, b"<</Type /Font /Subtype /Type0 "
          b"/BaseFont /NotoSans-Bold /Encoding /Identity-H "
          b"/DescendantFonts [" + str(u_desc).encode() + b" 0 R]>>")
    w.put(u_desc, b"<</Type /Font /Subtype /CIDFontType2 "
          b"/BaseFont /NotoSans /CIDSystemInfo <</Registry (Adobe) "
          b"/Ordering (Identity) /Supplement 0>>>>")

    for pn, content_nums, chunks, xobjs, xobj_names in page_bodies:
        res = b""
        if xobjs:
            res = (b" /Resources <</XObject <<"
                   + b" ".join(
                       f"/{nm} {num} 0 R".encode()
                       for nm, (num, _) in zip(xobj_names, xobjs))
                   + b">>>>")
        if len(content_nums) == 1:
            contents = f"{content_nums[0]} 0 R".encode()
        else:
            contents = (b"[" + b" ".join(
                f"{c} 0 R".encode() for c in content_nums) + b"]")
        w.put(
            pn,
            b"<</Type /Page /Parent " + str(pages_node).encode()
            + b" 0 R /MediaBox [0 0 612 792] /Contents " + contents + res
            + b">>",
        )
        for cn, chunk in zip(content_nums, chunks):
            if compress:
                w.put_stream(
                    cn, b" /Filter /FlateDecode", zlib.compress(chunk),
                    indirect_length=w.reserve(),
                )
            else:
                w.put_stream(cn, b"", chunk)
        for (num, ref), nm in zip(xobjs, xobj_names):
            pixels = (hashlib.md5(ref.encode()).digest() * 3)[:48]
            w.put_stream(
                num,
                b" /Type /XObject /Subtype /Image /Width 4 /Height 4 "
                b"/ColorSpace /DeviceRGB /BitsPerComponent 8 /Name /"
                + escape_name(ref).encode(),
                pixels,
            )
    return w.finish(catalog)


# ---------------------------------------------------------------------------
# corpus materialization
# ---------------------------------------------------------------------------


def render_doc(doc_id: str, spans: list[dict]) -> bytes:
    """One interleaved document → PDF bytes, layout picked by md5 bits
    (digest[-1]: FlateDecode content streams; digest[-2]: the PDF 1.5
    layout, object stream + xref stream, PNG-predicted when also
    compressed; digest[-3]: content-stream ops REVERSED per page, so
    document order is recoverable only by the reader's geometry
    tracking)."""
    digest = hashlib.md5(doc_id.encode()).digest()
    return build_pdf(
        sig.body_items(spans, par_item),
        compress=digest[-1] % 2 == 0,
        modern=digest[-2] % 2 == 0,
        permute=digest[-3] % 2 == 0,
    )


def ensure_pdf(sf: float) -> str:
    """Materialize the (doc_id, content) parquet of PDF bytes."""
    return datagen.ensure_rendered(
        BASE_DIR / f"v{datagen.DATAGEN_VERSION}.2", sf, render_doc
    )
