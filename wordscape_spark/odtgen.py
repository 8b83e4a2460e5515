"""Independent spec-built OpenDocument Text writer: interleaved span
grammar → real .odt packages, for round-tripping the ODT reader
(operators/odt.py) the same way docxgen/docgen_doc/pdfgen/rtfgen
round-trip theirs.  Built from the public OASIS ODF 1.2 specification
(package + text content schemas); shares no code with the reader.

Rendered surface per document (md5(doc_id) bits pick the layout so every
reader path appears at every sf):

* package: ``mimetype`` first and STORED (ODF 1.2 §3.3), then
  ``META-INF/manifest.xml``, ``content.xml``, ``styles.xml`` and any
  embedded ``Pictures/`` entries;
* named paragraph styles live in ``styles.xml`` with a soffice-style
  hex-escaped ``style:name`` (space → ``_20_``) plus the verbatim
  ``style:display-name`` — no formatting on them (formatting is
  per-paragraph, first-run convention);
* body paragraphs: digest[-3] even ⇒ the paragraph references an
  AUTOMATIC paragraph style whose ``style:parent-style-name`` is the
  named style and whose ``style:text-properties`` carry the first run's
  size/bold (the automatic→parent resolution chain); odd ⇒ the
  paragraph references the named style DIRECTLY and the whole text is
  wrapped in a ``text:span`` referencing an automatic TEXT style with
  the formatting.  Empty-text or unstyled paragraphs always take the
  automatic-paragraph-style shape (a span cannot carry formatting for
  zero characters);
* sizes are half-point-quantized exactly like the .doc and RTF writers
  (``floor(sz*2+0.5)``, unknown ⇒ 11 pt) and serialized as
  ``fo:font-size="Npt"`` — so the RTF leg's oracles apply unchanged;
* text escaping: XML-reserved chars entity-escaped; ``\\t`` →
  ``<text:tab/>``, ``\\n`` → ``<text:line-break/>``; space runs per ODF
  whitespace rules (one literal space, the rest ``<text:s text:c=.../>``;
  leading runs entirely as ``text:s``); digest[-2] even ⇒ non-ASCII as
  numeric character references ``&#xH;``, odd ⇒ raw UTF-8;
* figures: digest[-1] even ⇒ an EMBEDDED picture (tiny PNG under
  ``Pictures/``, a manifest entry, ``draw:frame draw:name=<media_ref>``
  → ``draw:image xlink:href="Pictures/..."``); odd ⇒ a LINKED picture
  (``xlink:href`` is the media_ref itself, no package entry) — each in
  its own wrapper paragraph;
* page breaks: an empty carrier paragraph referencing the dedicated
  automatic style ``Pbrk`` (``fo:break-before="page"``, no parent, no
  text-properties) — the idiom LibreOffice writes for a bare break.

Reference surface this supports: WordScape converts fetched Word-family
binaries through LibreOffice, whose native format is ODF
(/root/reference/app/src/annotation/soffice/conversion_manager.py); ODT
is the fourth Word-family container next to .doc/.docx/RTF.
"""

from __future__ import annotations

import hashlib

from wordscape_spark import datagen, rtfgen
from wordscape_spark import signal as sig

BASE_DIR = datagen.DATA_DIR / "odt"

MIMETYPE = b"application/vnd.oasis.opendocument.text"

#: minimal valid 1x1 grey PNG (constant bytes, spec-assembled)
_TINY_PNG = bytes.fromhex(
    "89504e470d0a1a0a0000000d49484452000000010000000108000000003a7e9b55"
    "0000000a49444154789c63680000008200817dcb55b70000000049454e44ae4260"
    "82"
)

_CONTENT_NS = (
    'xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" '
    'xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0" '
    'xmlns:style="urn:oasis:names:tc:opendocument:xmlns:style:1.0" '
    'xmlns:fo="urn:oasis:names:tc:opendocument:xmlns:'
    'xsl-fo-compatible:1.0" '
    'xmlns:draw="urn:oasis:names:tc:opendocument:xmlns:drawing:1.0" '
    'xmlns:svg="urn:oasis:names:tc:opendocument:xmlns:svg-compatible:1.0" '
    'xmlns:xlink="http://www.w3.org/1999/xlink" '
    'office:version="1.2"'
)


def encode_style_name(name: str) -> str:
    """soffice-style ``style:name`` encoding: ASCII alphanumerics pass,
    everything else becomes ``_<hex>_`` (space → ``_20_``)."""
    out = []
    for ch in name:
        o = ord(ch)
        if ch.isalnum() and o < 128:
            out.append(ch)
        else:
            out.append("_%02x_" % o)
    return "".join(out)


def _esc(text: str, char_refs: bool) -> str:
    """Escape XML character data; ``char_refs`` renders non-ASCII as
    numeric character references instead of raw UTF-8."""
    out = []
    for ch in text:
        if ch == "&":
            out.append("&amp;")
        elif ch == "<":
            out.append("&lt;")
        elif ch == ">":
            out.append("&gt;")
        elif ch == '"':
            out.append("&quot;")
        elif char_refs and ord(ch) >= 0x80:
            out.append("&#x%X;" % ord(ch))
        else:
            out.append(ch)
    return "".join(out)


def _body_text_xml(text: str, char_refs: bool) -> str:
    """Paragraph text → ODF content markup: tabs/line-breaks as elements,
    space runs per the ODF whitespace-collapsing rules."""
    out = []
    i, n = 0, len(text)
    at_start = True
    while i < n:
        ch = text[i]
        if ch == " ":
            j = i
            while j < n and text[j] == " ":
                j += 1
            run = j - i
            if at_start:
                out.append('<text:s text:c="%d"/>' % run)
            elif run == 1:
                out.append(" ")
            else:
                out.append(' <text:s text:c="%d"/>' % (run - 1))
            i = j
            continue
        if ch == "\t":
            out.append("<text:tab/>")
        elif ch == "\n":
            out.append("<text:line-break/>")
        else:
            out.append(_esc(ch, char_refs))
        at_start = False
        i += 1
    return "".join(out)


def build_odt(
    items: list[dict],
    embed_figs: bool = True,
    char_refs: bool = False,
    auto_par_styles: bool = True,
) -> bytes:
    """Ordered items (the rtfgen/pdfgen grouping contract: ``par`` with
    text/style/hps/bold, ``fig`` with ref, ``pb``) → one .odt package
    (see module docstring for the layout knobs)."""
    named: list[str] = []
    for it in items:
        if it["type"] == "par" and it["style"] and it["style"] not in named:
            named.append(it["style"])

    autos: list[str] = []
    body: list[str] = []
    pictures: list[tuple[str, bytes]] = []
    n_auto = 0
    used_brk = False

    def auto_paragraph(parent: str | None, hps: int, bold: bool) -> str:
        nonlocal n_auto
        n_auto += 1
        nm = "P%d" % n_auto
        parent_attr = (
            ' style:parent-style-name="%s"' % encode_style_name(parent)
            if parent
            else ""
        )
        autos.append(
            '<style:style style:name="%s" style:family="paragraph"%s>'
            '<style:text-properties fo:font-size="%gpt"%s/>'
            "</style:style>"
            % (
                nm,
                parent_attr,
                hps / 2.0,
                ' fo:font-weight="bold"' if bold else "",
            )
        )
        return nm

    def auto_text(hps: int, bold: bool) -> str:
        nonlocal n_auto
        n_auto += 1
        nm = "T%d" % n_auto
        autos.append(
            '<style:style style:name="%s" style:family="text">'
            '<style:text-properties fo:font-size="%gpt"%s/>'
            "</style:style>"
            % (nm, hps / 2.0, ' fo:font-weight="bold"' if bold else "")
        )
        return nm

    for it in items:
        t = it["type"]
        if t == "pb":
            used_brk = True
            body.append('<text:p text:style-name="Pbrk"/>')
        elif t == "fig":
            ref = it["ref"]
            if embed_figs:
                href = "Pictures/img%d.png" % (len(pictures) + 1)
                pictures.append((href, _TINY_PNG))
                frame = (
                    '<draw:frame draw:name="%s" text:anchor-type="as-char"'
                    ' svg:width="0.2in" svg:height="0.2in">'
                    '<draw:image xlink:href="%s" xlink:type="simple"'
                    ' xlink:show="embed" xlink:actuate="onLoad"/>'
                    "</draw:frame>" % (_esc(ref, char_refs), href)
                )
            else:
                frame = (
                    '<draw:frame text:anchor-type="as-char"'
                    ' svg:width="0.2in" svg:height="0.2in">'
                    '<draw:image xlink:href="%s" xlink:type="simple"'
                    ' xlink:show="embed" xlink:actuate="onLoad"/>'
                    "</draw:frame>" % _esc(ref, char_refs)
                )
            body.append("<text:p>%s</text:p>" % frame)
        else:
            style, text = it["style"], it["text"]
            content = _body_text_xml(text, char_refs)
            if auto_par_styles or not text or not style:
                nm = auto_paragraph(style or None, it["hps"], it["bold"])
                body.append(
                    '<text:p text:style-name="%s">%s</text:p>'
                    % (nm, content)
                )
            else:
                tn = auto_text(it["hps"], it["bold"])
                body.append(
                    '<text:p text:style-name="%s">'
                    '<text:span text:style-name="%s">%s</text:span>'
                    "</text:p>"
                    % (encode_style_name(style), tn, content)
                )
    if used_brk:
        autos.append(
            '<style:style style:name="Pbrk" style:family="paragraph">'
            '<style:paragraph-properties fo:break-before="page"/>'
            "</style:style>"
        )

    content_xml = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        "<office:document-content %s>"
        "<office:automatic-styles>%s</office:automatic-styles>"
        "<office:body><office:text>%s</office:text></office:body>"
        "</office:document-content>"
        % (_CONTENT_NS, "".join(autos), "".join(body))
    ).encode("utf-8")

    named_xml = "".join(
        '<style:style style:name="%s" style:display-name="%s"'
        ' style:family="paragraph"/>'
        % (encode_style_name(s), _esc(s, char_refs))
        for s in named
    )
    styles_xml = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        "<office:document-styles %s>"
        "<office:styles>%s</office:styles>"
        "</office:document-styles>" % (_CONTENT_NS, named_xml)
    ).encode("utf-8")

    entries = "".join(
        '<manifest:file-entry manifest:full-path="%s"'
        ' manifest:media-type="%s"/>' % (path, mt)
        for path, mt in (
            [("/", MIMETYPE.decode())]
            + [("content.xml", "text/xml"), ("styles.xml", "text/xml")]
            + [(href, "image/png") for href, _ in pictures]
        )
    )
    manifest_xml = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        "<manifest:manifest xmlns:manifest="
        '"urn:oasis:names:tc:opendocument:xmlns:manifest:1.0"'
        ' manifest:version="1.2">%s</manifest:manifest>' % entries
    ).encode("utf-8")

    return datagen.zip_bytes(
        [
            ("mimetype", MIMETYPE),
            ("META-INF/manifest.xml", manifest_xml),
            ("content.xml", content_xml),
            ("styles.xml", styles_xml),
            *pictures,
        ],
        stored=("mimetype",),
    )


def render_doc(doc_id: str, spans: list[dict]) -> bytes:
    """One interleaved document → .odt bytes, layout picked by md5 bits
    (digest[-1]: embedded vs linked figures; digest[-2]: character
    references vs raw UTF-8; digest[-3]: automatic-parent vs
    direct-named paragraph styling)."""
    digest = hashlib.md5(doc_id.encode()).digest()
    return build_odt(
        sig.body_items(spans, rtfgen.par_item),
        embed_figs=digest[-1] % 2 == 0,
        char_refs=digest[-2] % 2 == 0,
        auto_par_styles=digest[-3] % 2 == 0,
    )


def ensure_odt(sf: float) -> str:
    """Materialize the (doc_id, content) parquet of .odt packages."""
    return datagen.ensure_rendered(
        BASE_DIR / f"v{datagen.DATAGEN_VERSION}.1", sf, render_doc
    )
