"""OOXML/.docx byte-stream ingestion → the interleaved span grammar.

The north-star input path: Arrow batches of raw ``.docx`` bytes are parsed
per document (zipfile + ``word/document.xml`` element walk) into the exact
``(kind, text, media_ref, offset)`` signal grammar the classifier consumes,
so ``extract()`` runs unchanged downstream.  Pure stdlib (zipfile +
xml.etree) — no python-docx in the sandbox.

Semantics mirrored from the reference (file:line in /root/reference):

* body walk in document order with CT_P / CT_Tbl dispatch
  (app/src/annotation/text/text_extraction.py:96-118)
* paragraph font props resolved through the style ``basedOn`` chain only —
  paragraph direct formatting is NOT consulted
  (colorization/heuristics/utils.py:13-47)
* run font props: direct rPr first, then the character-style chain
  (heuristics/utils.py:53-118)
* numPr / oMath XML patterns (heuristics/utils.py:170-183,
  entities/paragraph.py:58)
* embedded media via relationship targets (entities/figure.py:76-81)
* sdt handling: docPartGallery → toc/bibliography; sdt with paragraph
  content → form field, preceding run in a wrapping paragraph → form tag
  (entities/form.py:85-158)
* w:lang tags → lang_tag meta spans (oxml_metadata.py:33-41), core.xml →
  core_* meta spans (oxml_metadata.py:44-58)
* header/footer parts → hp/fp stream paragraphs; textbox content → xp
  (entities/text_box.py:10-31)

Grammar-mapping rules this module defines (and ``docxgen`` inverts):

* page breaks (``w:br w:type="page"`` / ``w:lastRenderedPageBreak``) are
  emitted as a standalone ``pb`` span *after* the containing paragraph —
  the span grammar assigns whole elements to pages;
* nested tables are hoisted into their own contiguous ``tc`` block right
  after their parent table (``pt`` field), ids in discovery order;
* a run whose only content is drawings (no w:t/w:tab/w:br) emits no ``r``
  span — its figures are emitted after the paragraph;
* meta spans (core props, then w:lang tags in document order) come first,
  then header/footer streams, then the body walk.
"""

from __future__ import annotations

import io
import re
import zipfile
from xml.etree import ElementTree as ET

from pyspark.sql import DataFrame

from wordscape_spark import signal as sig
from wordscape_spark.operators.extract import INPUT_SCHEMA
from wordscape_spark.sources.ingest import binary_to_rows

W = "{http://schemas.openxmlformats.org/wordprocessingml/2006/main}"
R = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
M = "{http://schemas.openxmlformats.org/officeDocument/2006/math}"
DC = "{http://purl.org/dc/elements/1.1/}"
DCTERMS = "{http://purl.org/dc/terms/}"

_HDR_RE = re.compile(r"word/header\d*\.xml$")
_FTR_RE = re.compile(r"word/footer\d*\.xml$")


# ---------------------------------------------------------------------------
# styles.xml
# ---------------------------------------------------------------------------


class _Style:
    __slots__ = ("name", "based_on", "size", "bold", "italic", "default")

    def __init__(self, name, based_on, size, bold, italic, default):
        self.name = name
        self.based_on = based_on
        self.size = size
        self.bold = bold
        self.italic = italic
        self.default = default


def _parse_onoff(el: ET.Element | None) -> bool | None:
    """OOXML on/off property: absent → None, w:val 0/false/none → False,
    else True."""
    if el is None:
        return None
    val = el.get(f"{W}val")
    return val not in ("0", "false", "none")


def _parse_rpr(rpr: ET.Element | None):
    """(size_pt | None, bold, italic) from a w:rPr element."""
    if rpr is None:
        return None, None, None
    sz = rpr.find(f"{W}sz")
    size = int(sz.get(f"{W}val")) / 2.0 if sz is not None else None
    return size, _parse_onoff(rpr.find(f"{W}b")), _parse_onoff(rpr.find(f"{W}i"))


def _parse_styles(data: bytes | None) -> dict[str, _Style]:
    styles: dict[str, _Style] = {}
    if not data:
        return styles
    root = ET.fromstring(data)
    for st in root.iter(f"{W}style"):
        sid = st.get(f"{W}styleId")
        if sid is None:
            continue
        name_el = st.find(f"{W}name")
        name = name_el.get(f"{W}val", "") if name_el is not None else ""
        based = st.find(f"{W}basedOn")
        based_on = based.get(f"{W}val") if based is not None else None
        size, bold, italic = _parse_rpr(st.find(f"{W}rPr"))
        default = (
            st.get(f"{W}default") in ("1", "true")
            and st.get(f"{W}type") == "paragraph"
        )
        styles[sid] = _Style(name, based_on, size, bold, italic, default)
    return styles


def _resolve_style_chain(
    styles: dict[str, _Style], sid: str | None
) -> tuple[float, bool | None, bool | None]:
    """Applied (size, bold, italic) through the basedOn chain
    (heuristics/utils.py:13-47: each prop walks up independently)."""
    size: float | None = None
    bold: bool | None = None
    italic: bool | None = None
    seen: set[str] = set()
    cur = sid
    while cur is not None and cur in styles and cur not in seen:
        seen.add(cur)
        st = styles[cur]
        if size is None:
            size = st.size
        if bold is None:
            bold = st.bold
        if italic is None:
            italic = st.italic
        cur = st.based_on
    return (
        sig.FONT_UNKNOWN if size is None else size,
        bold,
        italic,
    )


def _resolve_run_char_chain(
    styles: dict[str, _Style], sid: str | None, direct
):
    """Run props: direct rPr wins, then the character-style chain
    (heuristics/utils.py:53-118)."""
    size, bold, italic = direct
    c_size, c_bold, c_italic = _resolve_style_chain(styles, sid)
    if size is None:
        size = None if c_size == sig.FONT_UNKNOWN else c_size
    if bold is None:
        bold = c_bold
    if italic is None:
        italic = c_italic
    return (sig.FONT_UNKNOWN if size is None else size, bold, italic)


# ---------------------------------------------------------------------------
# document.xml walk
# ---------------------------------------------------------------------------


class _DocParser:
    def __init__(self, styles, rels):
        self.styles = styles
        self.rels = rels
        self.default_style_name = next(
            (s.name for s in styles.values() if s.default), ""
        )
        self.spans: list[tuple[str, str, str | None]] = []
        self.par_idx = 0
        self.tbl_idx = 0
        self.xp_idx = 0

    def add(self, kind: str, text: str, media_ref: str | None = None):
        self.spans.append((kind, text, media_ref))

    # ------------------------------------------------------------- body walk

    def walk_body(self, body: ET.Element) -> None:
        for child in body:
            if child.tag == f"{W}p":
                self._handle_paragraph(child)
            elif child.tag == f"{W}tbl":
                self._handle_table(child, parent=None)
            elif child.tag == f"{W}sdt":
                self._handle_block_sdt(child)
            # sectPr etc: no content

    # ------------------------------------------------------------ paragraphs

    def _run_text_and_breaks(self, r: ET.Element) -> tuple[str, int, bool]:
        """(text, page_breaks, has_text_content) for a w:r element."""
        parts: list[str] = []
        breaks = 0
        has_text = False
        for el in r:
            if el.tag == f"{W}t":
                parts.append(el.text or "")
                has_text = True
            elif el.tag == f"{W}tab":
                parts.append("\t")
                has_text = True
            elif el.tag == f"{W}br":
                if el.get(f"{W}val") == "page" or el.get(f"{W}type") == "page":
                    breaks += 1
                else:
                    parts.append("\n")
                    has_text = True
            elif el.tag == f"{W}lastRenderedPageBreak":
                breaks += 1
        return "".join(parts), breaks, has_text

    def _figures_of(self, el: ET.Element) -> list[str | None]:
        """Relationship targets of every embedded drawing/pict blip under
        ``el`` (figure.py:76-81 media members analog)."""
        refs: list[str | None] = []
        for blip in el.iter(
            "{http://schemas.openxmlformats.org/drawingml/2006/main}blip"
        ):
            rid = blip.get(f"{R}embed") or blip.get(f"{R}link")
            refs.append(self.rels.get(rid))
        for imagedata in el.iter(f"{W}imagedata"):  # legacy w:pict
            rid = imagedata.get(f"{R}id")
            refs.append(self.rels.get(rid))
        return refs

    def _handle_stream_paragraph(self, p: ET.Element, stream: str, idx: int):
        """Header/footer paragraph: one short-form ``hp;p=N``/``fp;p=N``
        span with the paragraph's concatenated text."""
        text = "".join(
            (t.text or "") if t.tag == f"{W}t" else "\t"
            for r in p.findall(f"{W}r")
            for t in r
            if t.tag in (f"{W}t", f"{W}tab")
        )
        self.add(f"{stream};p={idx}", text)

    def _handle_paragraph(self, p: ET.Element):
        """One w:p: r spans (+ deferred figures / textboxes / inline-sdt
        form pairs / page breaks)."""
        ppr = p.find(f"{W}pPr")
        style_id = None
        numbered = False
        if ppr is not None:
            ps = ppr.find(f"{W}pStyle")
            style_id = ps.get(f"{W}val") if ps is not None else None
            numbered = ppr.find(f"{W}numPr") is not None
        if style_id is not None and style_id in self.styles:
            style_name = self.styles[style_id].name
        else:
            style_name = self.default_style_name
        par_size, par_bold, par_italic = _resolve_style_chain(
            self.styles, style_id
        )
        math = next(p.iter(f"{M}oMath"), None) is not None or next(
            p.iter(f"{M}oMathPara"), None
        ) is not None

        run_spans: list[tuple[str, str]] = []
        figs: list[str | None] = []
        textboxes: list[str] = []
        form_pairs: list[tuple[str, str]] = []
        page_breaks = 0

        for el in p:
            if el.tag == f"{W}r":
                # textbox content is its own stream, not run text
                tx_texts = [
                    "".join(t.text or "" for t in txp.iter(f"{W}t"))
                    for txbx in el.iter(f"{W}txbxContent")
                    for txp in txbx.iter(f"{W}p")
                ]
                if tx_texts:
                    textboxes.extend(tx_texts)
                    continue
                figs.extend(self._figures_of(el))
                text, breaks, has_text = self._run_text_and_breaks(el)
                page_breaks += breaks
                if not has_text:
                    continue
                direct = _parse_rpr(el.find(f"{W}rPr"))
                rpr = el.find(f"{W}rPr")
                char_sid = None
                underline = False
                if rpr is not None:
                    rs = rpr.find(f"{W}rStyle")
                    char_sid = rs.get(f"{W}val") if rs is not None else None
                    u = rpr.find(f"{W}u")
                    underline = (
                        u is not None and u.get(f"{W}val") != "none"
                    )
                size, bold, italic = _resolve_run_char_chain(
                    self.styles, char_sid, direct
                )
                kind = sig.encode_run(
                    par=self.par_idx,
                    style=style_name.lower(),
                    par_size=par_size,
                    par_bold=par_bold,
                    par_italic=par_italic,
                    size=size,
                    bold=bold,
                    italic=italic,
                    underline=underline,
                    math=math,
                    numbered=numbered,
                )
                run_spans.append((kind, text))
            elif el.tag == f"{W}sdt":
                # inline sdt in a wrapping paragraph: the preceding runs ARE
                # the form tag (form.py:85-158 colorizes the run before the
                # sdt as FORM_TAG) — they are consumed, not body runs
                field_text = "".join(
                    t.text or "" for t in el.iter(f"{W}t")
                )
                tag_text = "".join(t for _k, t in run_spans)
                run_spans = []
                form_pairs.append((tag_text, field_text))
                figs.extend(self._figures_of(el))

        if run_spans:
            for kind, text in run_spans:
                self.add(kind, text)
            self.par_idx += 1
        for tag_text, field_text in form_pairs:
            if tag_text:
                self.add(sig.encode_sdt("", form="tag"), tag_text)
            self.add(sig.encode_sdt("", form="field"), field_text)
        for ref in figs:
            self.add("fig", "", media_ref=ref)
        for text in textboxes:
            self.add(f"xp;p={self.xp_idx}", text)
            self.xp_idx += 1
        for _ in range(page_breaks):
            self.add(sig.PAGE_BREAK, "")

    # ---------------------------------------------------------------- tables

    def _cell_text(self, tc: ET.Element) -> str:
        """_Cell.text analog: the cell's own paragraphs joined by \\n —
        nested-table content excluded."""
        parts = []
        for child in tc:
            if child.tag == f"{W}p":
                parts.append(
                    "".join(t.text or "" for t in child.iter(f"{W}t"))
                )
        return "\n".join(parts)

    def _handle_table(self, tbl: ET.Element, parent: int | None):
        t = self.tbl_idx
        self.tbl_idx += 1
        nested: list[ET.Element] = []
        row_idx = 0
        for tr in tbl.findall(f"{W}tr"):
            trpr = tr.find(f"{W}trPr")
            header = (
                trpr is not None and trpr.find(f"{W}tblHeader") is not None
            )
            col_idx = 0
            for tc in tr.findall(f"{W}tc"):
                self.add(
                    sig.encode_cell(t, row_idx, col_idx, header, parent=parent),
                    self._cell_text(tc),
                )
                nested.extend(tc.findall(f"{W}tbl"))
                col_idx += 1
            row_idx += 1
        # hoist nested tables right after the parent block (grammar rule)
        for sub in nested:
            self._handle_table(sub, parent=t)

    # ------------------------------------------------------------ block sdt

    def _handle_block_sdt(self, sdt: ET.Element):
        sdtpr = sdt.find(f"{W}sdtPr")
        gallery = ""
        if sdtpr is not None:
            g = sdtpr.find(f"{W}docPartObj/{W}docPartGallery")
            if g is None:
                g = next(sdtpr.iter(f"{W}docPartGallery"), None)
            if g is not None:
                gallery = g.get(f"{W}val", "")
        text = "".join(t.text or "" for t in sdt.iter(f"{W}t"))
        if gallery:
            self.add(sig.encode_sdt(gallery), text)
        else:
            # sdtContent with paragraphs → form field (form.py:105-125)
            self.add(sig.encode_sdt("", form="field"), text)


# ---------------------------------------------------------------------------
# public parse entry
# ---------------------------------------------------------------------------


def parse_docx_bytes(data: bytes) -> list[dict]:
    """Parse one .docx byte string into ordered span rows
    (kind, text, media_ref, offset)."""
    zf = zipfile.ZipFile(io.BytesIO(data))
    names = set(zf.namelist())

    styles = _parse_styles(
        zf.read("word/styles.xml") if "word/styles.xml" in names else None
    )
    rels: dict[str, str] = {}
    rel_name = "word/_rels/document.xml.rels"
    if rel_name in names:
        root = ET.fromstring(zf.read(rel_name))
        for rel in root:
            rid, target = rel.get("Id"), rel.get("Target")
            if rid and target:
                rels[rid] = target.lstrip("/")

    parser = _DocParser(styles, rels)

    # meta spans first: core properties, then w:lang tags in document order
    if "docProps/core.xml" in names:
        core = ET.fromstring(zf.read("docProps/core.xml"))
        for key, tag in (
            ("core_created", f"{DCTERMS}created"),
            ("core_modified", f"{DCTERMS}modified"),
            ("core_title", f"{DC}title"),
        ):
            el = core.find(tag)
            if el is not None and el.text:
                parser.add(sig.encode_meta(key), el.text)

    doc_root = ET.fromstring(zf.read("word/document.xml"))
    for lang_el in doc_root.iter(f"{W}lang"):
        # get_langs collects every attribute value of each w:lang tag
        # (oxml_metadata.py:33-41)
        for val in lang_el.attrib.values():
            parser.add(sig.encode_meta("lang_tag"), val)

    # header/footer streams
    for pattern, stream in ((_HDR_RE, "hp"), (_FTR_RE, "fp")):
        idx = 0
        for name in sorted(n for n in names if pattern.search(n)):
            part = ET.fromstring(zf.read(name))
            for p in part.iter(f"{W}p"):
                parser._handle_stream_paragraph(p, stream, idx)
                idx += 1

    body = doc_root.find(f"{W}body")
    if body is not None:
        parser.walk_body(body)

    return [
        {"kind": k, "text": t, "media_ref": m, "offset": i}
        for i, (k, t, m) in enumerate(parser.spans)
    ]


def docx_to_spans(df: DataFrame) -> DataFrame:
    """Arrow-batched .docx ingestion: (doc_id, content binary) →
    (doc_id, spans) in the interleaved input schema.

    Zero shuffle (one ``binary_to_rows`` pass over whatever partitioning
    the binary source provides); per-document fault isolation — an
    unreadable zip or malformed XML yields an empty spans array
    (downstream extract() rejects it as min_text) instead of failing the
    task."""
    return binary_to_rows(df, parse_docx_bytes, INPUT_SCHEMA)
