"""Deterministic .docx builder — the inverse of operators.docx.

Renders a span-grammar document (the datagen output) as a real OOXML zip:
styles.xml carries the applied paragraph font props (one styleId per
distinct (name, size, bold, italic) tuple — styleIds unique, names may
repeat, which is exactly what the style-chain resolution reads back),
document.xml carries the body walk, header/footer parts the hp/fp streams,
docProps/core.xml the core properties, and a body-end sectPr the w:lang
tags.  Used by tests to prove ``docx_to_spans ∘ build_docx`` reproduces the
original signal (and hence identical classification), and by ``ensure_docx``
to materialize a binary ingestion table.

This module intentionally shares no code with the parser — the round-trip
test is only meaningful because the two sides are independent renderings of
the grammar contract documented in signal.py / operators/docx.py.
"""

from __future__ import annotations

import hashlib
from xml.sax.saxutils import escape, quoteattr

from wordscape_spark import datagen
from wordscape_spark import signal as sig

BASE_DIR = datagen.DATA_DIR / "docx"

_W_NS = (
    'xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main" '
    'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/'
    'relationships" '
    'xmlns:m="http://schemas.openxmlformats.org/officeDocument/2006/math" '
    'xmlns:wp="http://schemas.openxmlformats.org/drawingml/2006/'
    'wordprocessingDrawing" '
    'xmlns:a="http://schemas.openxmlformats.org/drawingml/2006/main" '
    'xmlns:pic="http://schemas.openxmlformats.org/drawingml/2006/picture"'
)


def _onoff(tag: str, v: bool | None) -> str:
    if v is None:
        return ""
    return f"<w:{tag}/>" if v else f'<w:{tag} w:val="0"/>'


def _t(text: str) -> str:
    # carriage returns must be written as character references: an XML
    # parser normalizes literal \r to \n on read (XML 1.0 §2.11), which
    # would erase the heading-continuation signal the classifier honors
    return (
        f'<w:t xml:space="preserve">'
        f'{escape(text, {chr(13): "&#13;"})}</w:t>'
    )


class _Builder:
    def __init__(self):
        self.styles: dict[tuple, str] = {}  # (name,size,bold,italic) -> id
        self.body: list[str] = []
        self.headers: dict[str, list[str]] = {"hp": [], "fp": []}
        self.rels: list[tuple[str, str]] = []  # (rid, target)
        self.media: dict[str, bytes] = {}
        self.core: dict[str, str] = {}
        self.langs: list[str] = []

    def style_id(self, name, size, bold, italic) -> str:
        key = (name, size, bold, italic)
        sid = self.styles.get(key)
        if sid is None:
            sid = f"s{len(self.styles)}"
            self.styles[key] = sid
        return sid

    def rel_for(self, target: str) -> str:
        rid = f"rId{len(self.rels) + 1}"
        self.rels.append((rid, target))
        if target not in self.media:
            self.media[target] = hashlib.md5(target.encode()).digest()
        return rid


def _run_xml(r: sig.RunSignal) -> str:
    rpr = []
    if r.size != sig.FONT_UNKNOWN:
        rpr.append(f'<w:sz w:val="{int(round(r.size * 2))}"/>')
    rpr.append(_onoff("b", r.bold))
    rpr.append(_onoff("i", r.italic))
    if r.underline:
        rpr.append('<w:u w:val="single"/>')
    rpr_xml = "".join(x for x in rpr if x)
    rpr_xml = f"<w:rPr>{rpr_xml}</w:rPr>" if rpr_xml else ""
    return f"<w:r>{rpr_xml}{_t(r.text)}</w:r>"


def _paragraph_xml(b: _Builder, runs: list[sig.RunSignal]) -> str:
    head = runs[0]
    sid = b.style_id(head.style, head.par_size, head.par_bold, head.par_italic)
    ppr = [f'<w:pStyle w:val="{sid}"/>']
    if head.numbered or any(r.numbered for r in runs):
        ppr.append('<w:numPr><w:numId w:val="1"/></w:numPr>')
    body = [f"<w:pPr>{''.join(ppr)}</w:pPr>"]
    if head.math or any(r.math for r in runs):
        body.append("<m:oMathPara/>")
    body.extend(_run_xml(r) for r in runs)
    return f"<w:p>{''.join(body)}</w:p>"


def _fig_xml(b: _Builder, media_ref: str | None) -> str:
    rid = b.rel_for(media_ref or "media/unknown.png")
    return (
        "<w:p><w:r><w:drawing><wp:inline><a:graphic><a:graphicData>"
        "<pic:pic><pic:blipFill>"
        f'<a:blip r:embed="{rid}"/>'
        "</pic:blipFill></pic:pic>"
        "</a:graphicData></a:graphic></wp:inline></w:drawing></w:r></w:p>"
    )


def _textbox_xml(text: str) -> str:
    return (
        "<w:p><w:r><w:pict><w:txbxContent>"
        f"<w:p><w:r>{_t(text)}</w:r></w:p>"
        "</w:txbxContent></w:pict></w:r></w:p>"
    )


def _sdt_xml(gallery: str, text: str) -> str:
    pr = (
        f"<w:sdtPr><w:docPartObj><w:docPartGallery w:val={quoteattr(gallery)}"
        "/></w:docPartObj></w:sdtPr>"
        if gallery
        else "<w:sdtPr/>"
    )
    return (
        f"<w:sdt>{pr}<w:sdtContent><w:p><w:r>{_t(text)}</w:r></w:p>"
        "</w:sdtContent></w:sdt>"
    )


def _form_pair_xml(tag_text: str | None, field_text: str) -> str:
    """Inline sdt in a wrapping paragraph: preceding run = form tag."""
    tag_run = f"<w:r>{_t(tag_text)}</w:r>" if tag_text else ""
    return (
        f"<w:p>{tag_run}<w:sdt><w:sdtPr/><w:sdtContent>"
        f"<w:r>{_t(field_text)}</w:r>"
        "</w:sdtContent></w:sdt></w:p>"
    )


def _cell_xml(text: str) -> str:
    pars = "".join(
        f"<w:p><w:r>{_t(part)}</w:r></w:p>" for part in text.split("\n")
    ) or "<w:p/>"
    return pars


def _tables_xml(
    tables: dict[int, list[sig.CellSignal]],
    children: dict[int, list[int]],
    root: int,
) -> str:
    """Render table ``root`` with its nested tables placed in the last cell
    (the parser hoists them back out in discovery order)."""
    cells = tables[root]
    rows: dict[int, list[sig.CellSignal]] = {}
    header_rows: set[int] = set()
    for c in cells:
        rows.setdefault(c.row, []).append(c)
        if c.header:
            header_rows.add(c.row)
    nested_xml = "".join(
        _tables_xml(tables, children, sub) for sub in children.get(root, [])
    )
    out = ["<w:tbl>"]
    row_ids = sorted(rows)
    for ri in row_ids:
        out.append("<w:tr>")
        if ri in header_rows:
            out.append("<w:trPr><w:tblHeader/></w:trPr>")
        row_cells = sorted(rows[ri], key=lambda c: c.col)
        for j, c in enumerate(row_cells):
            inner = _cell_xml(c.text)
            if ri == row_ids[-1] and j == len(row_cells) - 1 and nested_xml:
                inner += nested_xml
                nested_xml = ""
            out.append(f"<w:tc>{inner}</w:tc>")
        out.append("</w:tr>")
    out.append("</w:tbl>")
    return "".join(out)


_PAGE_BREAK_P = '<w:p><w:r><w:br w:type="page"/></w:r></w:p>'


def build_docx(spans: list[dict]) -> bytes:
    """Render ordered span rows (kind/text/media_ref/offset) as .docx bytes."""
    b = _Builder()
    ordered = sorted(spans, key=lambda s: s["offset"])

    # group consecutive body runs / table cells like parse_elements does
    i = 0
    tables: dict[int, list[sig.CellSignal]] = {}
    children: dict[int, list[int]] = {}
    pending_tag: str | None = None

    def flush_tables(root: int):
        b.body.append(_tables_xml(tables, children, root))

    while i < len(ordered):
        s = ordered[i]
        kind, text = s["kind"], s["text"] or ""
        tag, fields = sig.parse_fields(kind)
        if tag == "meta":
            k = fields.get("k", "")
            if k == "lang_tag":
                b.langs.append(text)
            elif k:
                b.core[k] = text
            i += 1
        elif tag == "r":
            runs = []
            par = sig.parse_run(kind, text)
            while i < len(ordered):
                s2 = ordered[i]
                t2, f2 = sig.parse_fields(s2["kind"])
                if t2 != "r" or int(f2.get("p", "0")) != par.par:
                    break
                runs.append(sig.parse_run(s2["kind"], s2["text"] or ""))
                i += 1
            b.body.append(_paragraph_xml(b, runs))
        elif tag in ("hp", "fp"):
            r = sig.parse_run(kind, text)
            b.headers[tag].append(f"<w:p><w:r>{_t(text)}</w:r></w:p>")
            i += 1
        elif tag == "xp":
            b.body.append(_textbox_xml(text))
            i += 1
        elif tag == "sdt":
            form = fields.get("f", "")
            if form == "tag":
                pending_tag = text
                i += 1
            elif form == "field":
                b.body.append(_form_pair_xml(pending_tag, text))
                pending_tag = None
                i += 1
            else:
                b.body.append(_sdt_xml(fields.get("g", ""), text))
                i += 1
        elif tag == "tc":
            # one contiguous block: parent table + hoisted nested tables
            root = None
            while i < len(ordered):
                t2, _ = sig.parse_fields(ordered[i]["kind"])
                if t2 != "tc":
                    break
                c = sig.parse_cell(
                    ordered[i]["kind"], ordered[i]["text"] or ""
                )
                tables.setdefault(c.table, []).append(c)
                if c.parent is not None:
                    kids = children.setdefault(c.parent, [])
                    if c.table not in kids:
                        kids.append(c.table)
                elif root is None or c.table != root:
                    if root is not None and c.table != root:
                        flush_tables(root)
                    root = c.table
                i += 1
            if root is not None:
                flush_tables(root)
        elif tag == "fig":
            b.body.append(_fig_xml(b, s["media_ref"]))
            i += 1
        elif tag == "pb":
            b.body.append(_PAGE_BREAK_P)
            i += 1
        else:
            i += 1

    return _zip_parts(b)


def _zip_parts(b: _Builder) -> bytes:
    styles_xml = [f'<w:styles {_W_NS}>']
    # a default style so missing-pStyle paragraphs resolve
    styles_xml.append(
        '<w:style w:type="paragraph" w:default="1" w:styleId="def">'
        '<w:name w:val="Normal"/></w:style>'
    )
    for (name, size, bold, italic), sid in b.styles.items():
        rpr = []
        if size != sig.FONT_UNKNOWN:
            rpr.append(f'<w:sz w:val="{int(round(size * 2))}"/>')
        rpr.append(_onoff("b", bold))
        rpr.append(_onoff("i", italic))
        rpr_xml = "".join(x for x in rpr if x)
        styles_xml.append(
            f'<w:style w:type="paragraph" w:styleId="{sid}">'
            f"<w:name w:val={quoteattr(name)}/>"
            + (f"<w:rPr>{rpr_xml}</w:rPr>" if rpr_xml else "")
            + "</w:style>"
        )
    styles_xml.append("</w:styles>")

    sect_langs = "".join(
        f"<w:lang w:val={quoteattr(v)}/>" for v in b.langs
    )
    sect = f"<w:sectPr><w:rPr>{sect_langs}</w:rPr></w:sectPr>" if sect_langs \
        else "<w:sectPr/>"
    document_xml = (
        f"<w:document {_W_NS}><w:body>"
        + "".join(b.body)
        + sect
        + "</w:body></w:document>"
    )

    rels_xml = (
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/'
        '2006/relationships">'
        + "".join(
            f'<Relationship Id="{rid}" Type="http://schemas.openxmlformats'
            '.org/officeDocument/2006/relationships/image" '
            f"Target={quoteattr(target)}/>"
            for rid, target in b.rels
        )
        + "</Relationships>"
    )

    core_parts = []
    if "core_created" in b.core:
        core_parts.append(
            f"<dcterms:created>{escape(b.core['core_created'])}"
            "</dcterms:created>"
        )
    if "core_modified" in b.core:
        core_parts.append(
            f"<dcterms:modified>{escape(b.core['core_modified'])}"
            "</dcterms:modified>"
        )
    if "core_title" in b.core:
        core_parts.append(
            f"<dc:title>{escape(b.core['core_title'])}</dc:title>"
        )
    core_xml = (
        '<cp:coreProperties xmlns:cp="http://schemas.openxmlformats.org/'
        'package/2006/metadata/core-properties" '
        'xmlns:dc="http://purl.org/dc/elements/1.1/" '
        'xmlns:dcterms="http://purl.org/dc/terms/">'
        + "".join(core_parts)
        + "</cp:coreProperties>"
    )

    parts = {
        "[Content_Types].xml": (
            '<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
            'content-types"><Default Extension="xml" ContentType="'
            'application/xml"/><Default Extension="png" ContentType="'
            'image/png"/></Types>'
        ),
        "word/document.xml": document_xml,
        "word/styles.xml": "".join(styles_xml),
        "word/_rels/document.xml.rels": rels_xml,
        "docProps/core.xml": core_xml,
    }
    if b.headers["hp"]:
        parts["word/header1.xml"] = (
            f'<w:hdr {_W_NS}>' + "".join(b.headers["hp"]) + "</w:hdr>"
        )
    if b.headers["fp"]:
        parts["word/footer1.xml"] = (
            f'<w:ftr {_W_NS}>' + "".join(b.headers["fp"]) + "</w:ftr>"
        )
    parts.update((f"word/{target}", data) for target, data in b.media.items())

    return datagen.zip_bytes(parts.items())


# ---------------------------------------------------------------------------
# binary ingestion table
# ---------------------------------------------------------------------------


def ensure_docx(sf: float) -> str:
    """Materialize the (doc_id, content) parquet of .docx bytes."""
    return datagen.ensure_rendered(
        BASE_DIR / f"v{datagen.DATAGEN_VERSION}",
        sf,
        lambda _doc_id, spans: build_docx(spans),
    )
