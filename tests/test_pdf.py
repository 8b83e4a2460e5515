"""PDF ingestion: the spec-built writer (pdfgen) and the independent
reader (operators/pdf) must round-trip paragraph text, font size/bold,
figure media_refs, and page boundaries exactly — across literal-cp1252
and Identity-H/UTF-16BE string encodings, Flate-compressed and raw
content streams, direct and indirect /Length, single- and array-valued
/Contents, and Pages-node resource inheritance."""

import zlib

import pytest

from wordscape_spark import datagen
from wordscape_spark.operators.pdf import (
    PdfFile,
    parse_pdf_bytes,
    pdf_to_spans,
)
from wordscape_spark import signal as sig
from wordscape_spark.pdfgen import build_pdf, par_item


def par(text, size=11.0, bold=False):
    return {"type": "par", "text": text, "size": size, "bold": bold}


def fig(ref):
    return {"type": "fig", "ref": ref}


PB = {"type": "pb"}


def parsed_items(data: bytes):
    """Parsed spans → comparable item dicts (the writer's input shape)."""
    out = []
    for s in parse_pdf_bytes(data):
        k = s["kind"]
        if k == "pb":
            out.append(PB)
        elif k == "fig":
            out.append(fig(s["media_ref"]))
        else:
            fields = dict(
                p.split("=", 1) for p in k.split(";")[1:]
            )
            out.append(
                par(s["text"], size=float(fields["sz"]),
                    bold=fields["b"] == "1")
            )
    return out


@pytest.mark.parametrize("modern", [False, True])
@pytest.mark.parametrize("compress", [False, True])
def test_roundtrip_text_sizes_bold(compress, modern):
    items = [
        par("Plain body text."),
        par("A Heading", size=16.0, bold=True),
        par("half-point size", size=13.5),
        par(""),  # empty paragraph survives
        par("fig"),  # a paragraph whose text is "fig" is no figure
    ]
    data = build_pdf(items, compress=compress, modern=modern)
    assert parsed_items(data) == items


def test_roundtrip_unicode_identity_h():
    items = [
        par("cp1252-safe: déjà vu — naïve"),
        par("beyond cp1252: ★ Ψ 日本語 → Identity-H", size=14.0),
        par("bold unicode ★", size=9.0, bold=True),
    ]
    assert parsed_items(build_pdf(items)) == items


def test_roundtrip_escapes_and_control_chars():
    items = [
        par("parens (nested (deep)) and \\ backslash"),
        par("embedded\rcarriage and\nnewline and\ttab"),
        par("del\x7fchar and bell\x07"),
    ]
    assert parsed_items(build_pdf(items)) == items


def test_roundtrip_pages_and_figures():
    items = [
        par("page one"),
        fig("media/image1.png"),
        PB,
        par("page two", size=12.0),
        PB,
        PB,  # empty page between two breaks
        fig("media/ünïcode name.png"),  # name #xx escapes
        par("page four"),
    ]
    assert parsed_items(build_pdf(items)) == items


def test_leading_and_trailing_page_breaks():
    items = [PB, par("body"), PB]
    assert parsed_items(build_pdf(items)) == items


def test_empty_document_parses_to_no_spans():
    assert parse_pdf_bytes(build_pdf([])) == []


def test_contents_array_split_on_big_pages():
    """≥4 items on a page → 2-element /Contents array; parse is
    unchanged."""
    items = [par(f"line {i}") for i in range(6)] + [fig("m.png")]
    data = build_pdf(items)
    pdf = PdfFile(data)
    root = pdf.resolve(pdf.trailer["Root"])
    pages = pdf.resolve(root["Pages"])
    page = pdf.resolve(pdf.resolve(pages["Kids"])[0])
    assert isinstance(pdf.resolve(page["Contents"]), list)
    assert parsed_items(data) == items


def test_indirect_length_and_flate_filter():
    items = [par("compressed content stream " * 20)]
    data = build_pdf(items, compress=True)
    assert b"/Filter /FlateDecode" in data
    assert b"/Length" in data
    assert parsed_items(data) == items


def test_fonts_inherited_from_pages_node():
    """The page dict itself carries no /Font resources — decoding bold +
    unicode proves §7.7.3.4 inheritance (and /XObject merge on fig
    pages)."""
    data = build_pdf([par("bold ★", bold=True), fig("x.png")])
    pdf = PdfFile(data)
    root = pdf.resolve(pdf.trailer["Root"])
    pages = pdf.resolve(root["Pages"])
    page = pdf.resolve(pdf.resolve(pages["Kids"])[0])
    page_res = pdf.resolve(page.get("Resources")) or {}
    assert "Font" not in page_res  # fonts live on the Pages node
    assert "Font" in pdf.resolve(pages["Resources"])
    assert parsed_items(data) == [par("bold ★", bold=True), fig("x.png")]


@pytest.mark.parametrize("compress", [False, True])
def test_pdf15_structure_and_roundtrip(compress):
    """The modern layout really is PDF 1.5: xref STREAM (no ``trailer``
    keyword anywhere), objects packed in an /ObjStm, PNG-predicted xref
    rows when compressed — and the reader recovers everything through
    type-2 (compressed-object) entries."""
    items = [
        par("modern layout body"),
        par("unicode ★ here", size=14.0, bold=True),
        fig("media/img.png"),
        PB,
        par("page two"),
    ]
    data = build_pdf(items, compress=compress, modern=True)
    assert data.startswith(b"%PDF-1.5")
    assert b"trailer" not in data
    assert b"/Type /ObjStm" in data
    assert b"/Type /XRef" in data
    assert (b"/Predictor 12" in data) == compress
    assert parsed_items(data) == items
    # the catalog/pages/fonts all resolve through ObjStm members
    pdf = PdfFile(data)
    assert pdf.compressed  # type-2 entries present
    root = pdf.resolve(pdf.trailer["Root"])
    assert pdf.resolve(root["Type"]) == "Catalog"


def test_pdf15_indirect_length_from_objstm():
    """Compressed modern docs put the content stream's /Length object
    inside the ObjStm — resolving it exercises get() → _load_objstm
    mid-stream-read."""
    items = [par("indirect length body " * 10)]
    data = build_pdf(items, compress=True, modern=True)
    assert b"R" in data  # indirect /Length survives in modern layout
    assert parsed_items(data) == items


@pytest.mark.parametrize("modern", [False, True])
@pytest.mark.parametrize("compress", [False, True])
def test_permuted_streams_recover_reading_order(compress, modern):
    """permute=True reverses each page's op emission; the geometry-
    tracking layout mode must still recover document order — across
    pages, figures, unicode fonts, and both container layouts."""
    items = [
        par("first paragraph"),
        par("second — bold", size=14.0, bold=True),
        fig("media/a.png"),
        par("after the figure"),
        PB,
        par("page two starts ★"),
        par("page two ends"),
    ]
    data = build_pdf(items, compress=compress, modern=modern, permute=True)
    assert parsed_items(data) == items


def test_stream_order_differs_on_permuted_input():
    """The permuted file really is out of order on the wire (the raw,
    uncompressed content stream shows the reversal), and the layout sort
    undoes it — so the sort is doing the work, not the writer."""
    items = [par("alpha"), par("beta"), par("gamma")]
    data = build_pdf(items, compress=False, permute=True)
    assert data.index(b"(gamma)") < data.index(b"(beta)") \
        < data.index(b"(alpha)")
    assert parsed_items(data) == items


def test_layout_mode_is_identity_on_ordered_input():
    """For a document emitted in order, layout sorting must be a no-op
    (anchors are strictly descending, figures included)."""
    items = [par("one"), fig("m.png"), par("two"), par("three")]
    data = build_pdf(items, compress=False)
    assert data.index(b"(one)") < data.index(b"(two)") \
        < data.index(b"(three)")
    assert parsed_items(data) == items


def _wrap_single_content_stream(ops: bytes) -> bytes:
    """Minimal classic PDF around one hand-written content stream with
    one WinAnsi font — for pinning interpreter ops the writer never
    emits (Tm, TL, T*, ', \")."""
    buf = bytearray(b"%PDF-1.4\n")
    offsets = {}

    def put(num, body):
        offsets[num] = len(buf)
        buf.extend(f"{num} 0 obj\n".encode() + body + b"\nendobj\n")

    put(1, b"<</Type /Catalog /Pages 2 0 R>>")
    put(2, b"<</Type /Pages /Kids [3 0 R] /Count 1 /Resources "
           b"<</Font <</F1 4 0 R>>>>>>")
    put(3, b"<</Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
           b"/Contents 5 0 R>>")
    put(4, b"<</Type /Font /Subtype /Type1 /BaseFont /Helvetica "
           b"/Encoding /WinAnsiEncoding>>")
    put(5, b"<</Length " + str(len(ops)).encode() + b">>\nstream\n"
           + ops + b"\nendstream")
    xref_at = len(buf)
    buf.extend(b"xref\n0 6\n0000000000 65535 f \n")
    for i in range(1, 6):
        buf.extend(f"{offsets[i]:010d} 00000 n \n".encode())
    buf.extend(b"trailer\n<</Size 6 /Root 1 0 R>>\nstartxref\n"
               + str(xref_at).encode() + b"\n%%EOF\n")
    return bytes(buf)


def test_interpreter_tm_tl_tstar_quote_ops():
    """Tm sets the line origin; TL + T* and ' advance lines; reading
    order follows the resulting geometry, not emission order."""
    ops = (b"BT /F1 12 Tf 20 TL "
           b"1 0 0 1 72 700 Tm (line one) Tj "
           b"T* (line two) Tj "
           b"(line three) ' "
           b"1 0 0 1 72 720 Tm (line zero) Tj "
           b"ET")
    data = _wrap_single_content_stream(ops)
    texts = [s["text"] for s in parse_pdf_bytes(data)]
    assert texts == ["line zero", "line one", "line two", "line three"]


def test_interpreter_td_vs_td_leading():
    """TD sets leading = -ty (Td does not); the ' op uses it."""
    ops = (b"BT /F1 12 Tf "
           b"72 700 TD (a) Tj "
           b"ET "
           b"BT /F1 12 Tf 72 650 Td 30 TL (b) Tj (c) ' ET")
    data = _wrap_single_content_stream(ops)
    texts = [s["text"] for s in parse_pdf_bytes(data)]
    # a at y=700; b at 650 (Td leaves leading alone); c at 650-30=620
    assert texts == ["a", "b", "c"]


def test_png_unpredict_all_filters():
    """The un-predictor handles every RFC 2083 row filter, not just Up."""
    from wordscape_spark.operators.pdf import _png_unpredict

    rows = [bytes([10, 20, 30, 40]), bytes([12, 24, 36, 48]),
            bytes([5, 15, 25, 35])]
    bpp = 1

    def predict(filter_types):
        out = bytearray()
        prev = bytes(4)
        for ft, row in zip(filter_types, rows):
            out.append(ft)
            if ft == 0:
                out += row
            elif ft == 1:
                out += bytes(
                    (row[i] - (row[i - bpp] if i >= bpp else 0)) & 0xFF
                    for i in range(4))
            elif ft == 2:
                out += bytes((row[i] - prev[i]) & 0xFF for i in range(4))
            elif ft == 3:
                out += bytes(
                    (row[i] - ((row[i - bpp] if i >= bpp else 0)
                               + prev[i]) // 2) & 0xFF
                    for i in range(4))
            elif ft == 4:
                enc = []
                for i in range(4):
                    a = row[i - bpp] if i >= bpp else 0
                    b = prev[i]
                    c = prev[i - bpp] if i >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else (
                        b if pb <= pc else c)
                    enc.append((row[i] - pred) & 0xFF)
                out += bytes(enc)
            prev = row
        return bytes(out)

    for fts in ([0, 0, 0], [1, 1, 1], [2, 2, 2], [3, 3, 3], [4, 4, 4],
                [0, 1, 2], [4, 3, 2]):
        assert _png_unpredict(predict(fts), 4, bpp) == b"".join(rows), fts


@pytest.mark.parametrize(
    "mangle",
    [
        lambda d: d[: len(d) // 2],                      # truncated
        lambda d: d.replace(b"startxref", b"startxrEf"),  # no xref anchor
        lambda d: b"%PDF-1.4 garbage",                    # no structure
        lambda d: d.replace(b"/Type /Catalog", b"/Type /Catalogg"),
        lambda d: zlib.compress(d),                       # not a PDF at all
    ],
)
def test_malformed_pdfs_raise_not_hang(mangle):
    data = mangle(build_pdf([par("some text here")]))
    try:
        spans = parse_pdf_bytes(data)
    except Exception:
        return  # pdf_to_spans maps this to an empty spans array
    assert isinstance(spans, list)


@pytest.mark.parametrize(
    "mangle",
    [
        lambda d: d[: len(d) // 2],                       # truncated
        lambda d: d.replace(b"/Type /XRef", b"/Type /XReg"),
        lambda d: d.replace(b"/Type /ObjStm", b"/Type /ObjStX"),
        lambda d: d.replace(b"/W [1 4 2]", b"/W [1 4]"),  # bad widths
        lambda d: d.replace(b"/Predictor 12", b"/Predictor 7"),
    ],
)
def test_malformed_pdf15_raise_not_hang(mangle):
    data = mangle(
        build_pdf([par("some text here")], compress=True, modern=True)
    )
    try:
        spans = parse_pdf_bytes(data)
    except Exception:
        return  # pdf_to_spans maps this to an empty spans array
    assert isinstance(spans, list)


def test_lexer_always_advances_on_stray_delimiters():
    """Malformed content (stray delimiters) must terminate, not hang —
    the per-document isolation boundary can catch exceptions but not
    infinite loops."""
    from wordscape_spark.operators.pdf import _Lexer

    lex = _Lexer(b")  ] } >> garbage (ok) 12")
    seen = []
    while lex.peek_byte() is not None:
        before = lex.pos
        try:
            seen.append(lex.value())
        except (ValueError, IndexError):
            break
        assert lex.pos > before
    assert b"ok" in [x for x in seen if isinstance(x, bytes)]


def test_differential_vs_interleaved_corpus():
    """parse(build(spans)) == body_items(spans, par_item) for every real
    sf0.001 document — the projection is the contract both sides meet.
    Layout bits mirror ensure_pdf's corpus policy (md5-derived), so all
    four compress × modern combinations appear."""
    import hashlib

    import pyarrow.parquet as pq

    table = pq.read_table(datagen.ensure_interleaved(0.001)).to_pylist()
    assert table
    seen = set()
    for row in table:
        items = sig.body_items(row["spans"], par_item)
        digest = hashlib.md5(row["doc_id"].encode()).digest()
        compress = digest[-1] % 2 == 0
        modern = digest[-2] % 2 == 0
        seen.add((compress, modern))
        got = parsed_items(
            build_pdf(items, compress=compress, modern=modern)
        )
        assert got == items, row["doc_id"]
    assert len(seen) == 4  # every layout combination exercised


def test_pdf_to_spans_fault_isolation_and_plan(spark):
    rows = [
        ("ok", build_pdf([par("good document body")])),
        ("bad", b"%PDF-1.4 not really"),
        ("empty", b""),
        ("null", None),
    ]
    df = spark.createDataFrame(rows, "doc_id string, content binary")
    out = pdf_to_spans(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # ingestion never shuffles
    assert "InPandas" not in plan  # one mapInArrow step, no pandas hop
    got = {r["doc_id"]: r["spans"] for r in out.collect()}
    assert len(got["ok"]) == 1 and got["ok"][0]["text"] == "good document body"
    assert got["bad"] == []
    assert got["empty"] == [] and got["null"] == []
