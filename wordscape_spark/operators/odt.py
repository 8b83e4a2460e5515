"""ODT (OpenDocument Text) ingestion: raw .odt packages → the
interleaved span grammar.

A zip + XML reader over the public OASIS ODF 1.2 specification: the
package is opened via the central directory (``mimetype`` must declare
``application/vnd.oasis.opendocument.text``); named paragraph styles
come from ``styles.xml`` (``style:display-name`` preferred, else the
soffice hex-escaped ``style:name`` is decoded: ``_20_`` → space);
automatic styles from ``content.xml`` resolve through
``style:parent-style-name`` to the named style, carrying
``fo:font-size``/``fo:font-weight`` text-properties and
``fo:break-before="page"`` paragraph-properties.

Document content maps onto the span grammar exactly like the RTF reader
(operators/rtf.py):

* ``text:p``/``text:h`` → a paragraph span; style NAME resolved through
  the automatic→parent chain (so C8 builtin-style classification fires
  for ODT as for .docx/.doc/RTF); size/bold from the first
  ``text:span``'s automatic text style when present, else the
  paragraph's resolved text-properties (ODF default 12 pt otherwise);
  ``text:s``/``text:tab``/``text:line-break`` decode to
  spaces/``\\t``/``\\n`` per the ODF whitespace model;
* a paragraph whose resolved style carries ``fo:break-before="page"``
  emits a ``pb`` span first; when it is the bare LibreOffice break
  idiom (empty, automatic style with no parent and no text-properties)
  the carrier paragraph itself is dropped;
* ``draw:frame`` → a ``fig`` span: an embedded picture
  (``xlink:href`` under ``Pictures/``) carries its media_ref as
  ``draw:name``; a linked picture's href IS the media_ref.

Scale shape: one ``sources.ingest.binary_to_rows`` (``mapInArrow``) pass
over the binary column — zero shuffle, per-document fault isolation
(malformed packages yield empty span arrays, rejected downstream as
min_text, never task failures).

Reference surface this replaces: WordScape converts Word-family
binaries through LibreOffice, whose native format is ODF
(app/src/annotation/soffice/conversion_manager.py); ODT is the fourth
Word-family container next to .doc/.docx/RTF.
"""

from __future__ import annotations

import io
import re
import xml.etree.ElementTree as ET
import zipfile

from pyspark.sql import DataFrame

from wordscape_spark import signal as sig
from wordscape_spark.operators.extract import INPUT_SCHEMA
from wordscape_spark.sources.ingest import binary_to_rows

_NS_OFFICE = "urn:oasis:names:tc:opendocument:xmlns:office:1.0"
_NS_TEXT = "urn:oasis:names:tc:opendocument:xmlns:text:1.0"
_NS_STYLE = "urn:oasis:names:tc:opendocument:xmlns:style:1.0"
_NS_FO = "urn:oasis:names:tc:opendocument:xmlns:xsl-fo-compatible:1.0"
_NS_DRAW = "urn:oasis:names:tc:opendocument:xmlns:drawing:1.0"
_NS_XLINK = "http://www.w3.org/1999/xlink"

_P = f"{{{_NS_TEXT}}}p"
_H = f"{{{_NS_TEXT}}}h"
_SPAN = f"{{{_NS_TEXT}}}span"
_S = f"{{{_NS_TEXT}}}s"
_TAB = f"{{{_NS_TEXT}}}tab"
_BRK = f"{{{_NS_TEXT}}}line-break"
_LIST = f"{{{_NS_TEXT}}}list"
_LIST_ITEM = f"{{{_NS_TEXT}}}list-item"
_SECTION = f"{{{_NS_TEXT}}}section"
_FRAME = f"{{{_NS_DRAW}}}frame"
_IMAGE = f"{{{_NS_DRAW}}}image"

_A_STYLE_NAME = f"{{{_NS_TEXT}}}style-name"
_A_NAME = f"{{{_NS_STYLE}}}name"
_A_DISPLAY = f"{{{_NS_STYLE}}}display-name"
_A_FAMILY = f"{{{_NS_STYLE}}}family"
_A_PARENT = f"{{{_NS_STYLE}}}parent-style-name"
_A_SIZE = f"{{{_NS_FO}}}font-size"
_A_WEIGHT = f"{{{_NS_FO}}}font-weight"
_A_BREAK = f"{{{_NS_FO}}}break-before"
_A_C = f"{{{_NS_TEXT}}}c"
_A_HREF = f"{{{_NS_XLINK}}}href"
_A_DRAW_NAME = f"{{{_NS_DRAW}}}name"

_HEX_NAME_RE = re.compile(r"_([0-9a-fA-F]{2,4})_")

#: ODF document default font size — only reachable on foreign files;
#: the round-trip writer always emits fo:font-size
_DEFAULT_PT = 12.0


def decode_style_name(name: str) -> str:
    """Undo the soffice ``style:name`` hex escaping (``_20_`` → space)."""
    return _HEX_NAME_RE.sub(lambda m: chr(int(m.group(1), 16)), name)


def _text_props(el: ET.Element) -> tuple[float | None, bool | None]:
    """(size_pt, bold) from a style's ``style:text-properties`` child,
    None where the property is absent."""
    tp = el.find(f"{{{_NS_STYLE}}}text-properties")
    if tp is None:
        return None, None
    size = None
    raw = tp.get(_A_SIZE)
    if raw and raw.endswith("pt"):
        try:
            size = float(raw[:-2])
        except ValueError:
            size = None
    weight = tp.get(_A_WEIGHT)
    bold = None if weight is None else weight == "bold"
    return size, bold


def _walk_par(
    el: ET.Element, out: list[str], figs: list[str], span_style: list
) -> None:
    """Collect a paragraph's decoded text (ODF whitespace model), fig
    refs from ``draw:frame`` descendants (their subtrees contribute no
    text), and the first ``text:span``'s style name."""
    if el.text:
        out.append(el.text)
    for child in el:
        tag = child.tag
        if tag == _S:
            try:
                out.append(" " * int(child.get(_A_C, "1")))
            except ValueError:
                out.append(" ")
        elif tag == _TAB:
            out.append("\t")
        elif tag == _BRK:
            out.append("\n")
        elif tag == _FRAME:
            img = child.find(_IMAGE)
            href = img.get(_A_HREF, "") if img is not None else ""
            if href.startswith("Pictures/"):
                figs.append(child.get(_A_DRAW_NAME, ""))
            else:
                figs.append(href)
        elif tag == _SPAN:
            if span_style[0] is None:
                span_style[0] = child.get(_A_STYLE_NAME)
            _walk_par(child, out, figs, span_style)
        else:
            _walk_par(child, out, figs, span_style)
        if child.tail:
            out.append(child.tail)


def parse_odt_bytes(data: bytes) -> list[dict]:
    """One .odt package → ordered span rows in the interleaved grammar
    (see module docstring for the mapping)."""
    zf = zipfile.ZipFile(io.BytesIO(data))
    try:
        if b"opendocument.text" not in zf.read("mimetype"):
            raise ValueError("not an ODT package")
    except KeyError:
        raise ValueError("not an ODF package") from None
    content = ET.fromstring(zf.read("content.xml"))
    named: dict[str, str] = {}
    try:
        styles_root = ET.fromstring(zf.read("styles.xml"))
    except KeyError:
        styles_root = None
    if styles_root is not None:
        office_styles = styles_root.find(f"{{{_NS_OFFICE}}}styles")
        if office_styles is not None:
            for st in office_styles.findall(f"{{{_NS_STYLE}}}style"):
                nm = st.get(_A_NAME)
                if nm and st.get(_A_FAMILY) == "paragraph":
                    named[nm] = st.get(_A_DISPLAY) or decode_style_name(nm)

    # automatic styles: family=paragraph carries (parent, size, bold,
    # break-before); family=text carries (size, bold)
    auto_par: dict[str, tuple] = {}
    auto_text: dict[str, tuple] = {}
    autos = content.find(f"{{{_NS_OFFICE}}}automatic-styles")
    if autos is not None:
        for st in autos.findall(f"{{{_NS_STYLE}}}style"):
            nm = st.get(_A_NAME)
            if not nm:
                continue
            fam = st.get(_A_FAMILY)
            size, bold = _text_props(st)
            if fam == "paragraph":
                pp = st.find(f"{{{_NS_STYLE}}}paragraph-properties")
                brk = pp is not None and pp.get(_A_BREAK) == "page"
                auto_par[nm] = (st.get(_A_PARENT), size, bold, brk)
            elif fam == "text":
                auto_text[nm] = (size, bold)

    body = content.find(f"{{{_NS_OFFICE}}}body")
    office_text = (
        body.find(f"{{{_NS_OFFICE}}}text") if body is not None else None
    )
    if office_text is None:
        raise ValueError("no office:text body")

    items: list = []

    def handle_paragraph(p: ET.Element) -> None:
        ref = p.get(_A_STYLE_NAME)
        style_name = ""
        size = bold = None
        brk = carrier = False
        if ref in auto_par:
            parent, size, bold, brk = auto_par[ref]
            if parent:
                style_name = named.get(parent, decode_style_name(parent))
            carrier = (
                brk and parent is None and size is None and bold is None
            )
        elif ref in named:
            style_name = named[ref]
        elif ref:
            style_name = decode_style_name(ref)

        parts: list[str] = []
        figs: list[str] = []
        span_style: list = [None]
        _walk_par(p, parts, figs, span_style)
        text = "".join(parts)
        if span_style[0] in auto_text:
            s_size, s_bold = auto_text[span_style[0]]
            size = s_size if s_size is not None else size
            bold = s_bold if s_bold is not None else bold

        if brk:
            items.append(sig.PAGE_BREAK)
        if not (carrier and not text and not figs):
            if text or not figs:
                items.append(
                    (
                        text,
                        style_name,
                        size if size is not None else _DEFAULT_PT,
                        bool(bold),
                    )
                )
        for ref_ in figs:
            items.append(("fig", ref_))

    def walk_body(el: ET.Element) -> None:
        for child in el:
            if child.tag in (_P, _H):
                handle_paragraph(child)
            elif child.tag in (_LIST, _LIST_ITEM, _SECTION):
                walk_body(child)

    walk_body(office_text)
    return sig.item_spans(items)


def odt_to_spans(df: DataFrame) -> DataFrame:
    """Arrow-batched ODT ingestion: (doc_id, content binary) →
    (doc_id, spans).  Zero shuffle; per-document fault isolation."""
    return binary_to_rows(df, parse_odt_bytes, INPUT_SCHEMA)
