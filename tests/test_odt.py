"""ODT ingestion: the spec-built writer (odtgen) and the independent
reader (operators/odt) must round-trip paragraph text (ODF whitespace
model: text:s/tab/line-break), the paragraph STYLE name (styles.xml
hex-escaped name + display-name → automatic parent chain → reader
resolution), font size/bold, figure media_refs (embedded Pictures/
package entries AND linked xlink:href) and page boundaries exactly —
across char-ref/UTF-8 and automatic/direct styling modes; foreign-ODT
constructs (text:h, nested lists, missing display-name, missing
styles.xml) must parse per the public ODF 1.2 specification."""

import zipfile

import pytest

from wordscape_spark import datagen
from wordscape_spark.odtgen import (
    build_odt,
    encode_style_name,
    render_doc,
)
from wordscape_spark.operators.odt import (
    decode_style_name,
    odt_to_spans,
    parse_odt_bytes,
)


def par(text, style="", hps=22, bold=False):
    return {"type": "par", "text": text, "style": style, "hps": hps,
            "bold": bold}


def fig(ref):
    return {"type": "fig", "ref": ref}


PB = {"type": "pb"}


def parsed_items(data: bytes):
    """Parsed spans → comparable item dicts (the writer's input shape)."""
    out = []
    for s in parse_odt_bytes(data):
        k = s["kind"]
        if k == "pb":
            out.append(PB)
        elif k == "fig":
            out.append(fig(s["media_ref"]))
        else:
            fields = dict(p.split("=", 1) for p in k.split(";")[1:])
            out.append(
                par(
                    s["text"],
                    style=fields["s"],
                    hps=int(float(fields["sz"]) * 2),
                    bold=fields["b"] == "1",
                )
            )
    return out


ITEMS = [
    par("Plain body text."),
    par("A Heading", style="heading 1", hps=32, bold=True),
    par("styled body", style="corporate body", hps=24),
    par(""),  # empty paragraph survives
    par("  leading and  inner   spaces "),
    par("tab\there\nnewline", style="normal"),
    par("unicode é—\U0001f600 end", style="caption", hps=21),
    fig("media/image1.png"),
    PB,
    par("after the break", style="normal"),
]

ALL_MODES = [
    (embed, refs, autop)
    for embed in (False, True)
    for refs in (False, True)
    for autop in (False, True)
]


@pytest.mark.parametrize("embed,refs,autop", ALL_MODES)
def test_roundtrip_all_layout_modes(embed, refs, autop):
    got = parsed_items(
        build_odt(
            ITEMS, embed_figs=embed, char_refs=refs, auto_par_styles=autop
        )
    )
    assert got == ITEMS


def test_package_shape():
    """ODF 1.2 §3.3: mimetype is the FIRST member and STORED; manifest
    lists every member; embedded figures add Pictures/ entries."""
    import io

    data = build_odt(ITEMS, embed_figs=True)
    zf = zipfile.ZipFile(io.BytesIO(data))
    infos = zf.infolist()
    assert infos[0].filename == "mimetype"
    assert infos[0].compress_type == zipfile.ZIP_STORED
    assert zf.read("mimetype").startswith(b"application/vnd.oasis")
    manifest = zf.read("META-INF/manifest.xml").decode()
    assert 'manifest:full-path="content.xml"' in manifest
    assert "Pictures/img1.png" in manifest
    assert zf.read("Pictures/img1.png").startswith(b"\x89PNG")


def test_style_name_codec():
    for name in ("heading 1", "Körper-Text", "a_b", "x", "правило 2"):
        assert decode_style_name(encode_style_name(name)) == name


def test_consecutive_breaks_and_edge_breaks():
    items = [PB, par("a"), PB, PB, fig("media/i.png"), PB]
    assert parsed_items(build_odt(items)) == items


def _wrap_content(body_xml: str, styles_xml: str = "") -> bytes:
    """Assemble a foreign ODT package from raw content markup."""
    import io

    ns = (
        'xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" '
        'xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0" '
        'xmlns:style="urn:oasis:names:tc:opendocument:xmlns:style:1.0" '
        'xmlns:fo="urn:oasis:names:tc:opendocument:xmlns:'
        'xsl-fo-compatible:1.0" '
        'xmlns:draw="urn:oasis:names:tc:opendocument:xmlns:drawing:1.0" '
        'xmlns:xlink="http://www.w3.org/1999/xlink"'
    )
    content = (
        f"<office:document-content {ns}>{styles_xml}"
        f"<office:body><office:text>{body_xml}</office:text></office:body>"
        "</office:document-content>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr(
            zipfile.ZipInfo("mimetype"),
            b"application/vnd.oasis.opendocument.text",
            compress_type=zipfile.ZIP_STORED,
        )
        zf.writestr("content.xml", content)
    return buf.getvalue()


def test_foreign_heading_and_lists():
    """text:h counts as a paragraph; nested text:list paragraphs are
    walked in document order; missing styles.xml is tolerated."""
    spans = parse_odt_bytes(
        _wrap_content(
            '<text:h text:style-name="Heading_20_1">Title</text:h>'
            "<text:list><text:list-item>"
            "<text:p>first item</text:p>"
            "</text:list-item><text:list-item>"
            "<text:p>second item</text:p>"
            "</text:list-item></text:list>"
        )
    )
    texts = [s["text"] for s in spans]
    assert texts == ["Title", "first item", "second item"]
    # no display-name anywhere: the hex-escaped reference decodes
    assert ";s=Heading 1;" in spans[0]["kind"]
    # ODF default size applies when no style carries font-size
    assert ";sz=12.0;" in spans[0]["kind"]


def test_foreign_span_and_break_on_content_paragraph():
    """A break-before style on a NON-empty paragraph yields pb + par
    (the carrier-drop only fires for the bare LibreOffice idiom)."""
    styles = (
        "<office:automatic-styles>"
        '<style:style style:name="P1" style:family="paragraph">'
        '<style:paragraph-properties fo:break-before="page"/>'
        '<style:text-properties fo:font-size="9pt"/>'
        "</style:style>"
        "</office:automatic-styles>"
    )
    spans = parse_odt_bytes(
        _wrap_content(
            '<text:p text:style-name="P1">new page text</text:p>', styles
        )
    )
    assert [s["kind"].split(";")[0] for s in spans] == ["pb", "r"]
    assert spans[1]["text"] == "new page text"
    assert ";sz=9.0;" in spans[1]["kind"]


def test_malformed_packages_raise():
    with pytest.raises(Exception):
        parse_odt_bytes(b"PK\x03\x04 not a zip")
    with pytest.raises(ValueError):
        # a real zip but not an ODF text package
        import io

        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as zf:
            zf.writestr("mimetype", b"application/zip")
        parse_odt_bytes(buf.getvalue())


def test_render_doc_mode_coverage():
    """At sf0.001 the md5 layout bits must exercise every writer mode."""
    import pyarrow.parquet as pq

    table = pq.read_table(datagen.ensure_interleaved(0.001)).to_pylist()
    seen = set()
    import hashlib

    for row in table[:64]:
        d = hashlib.md5(row["doc_id"].encode()).digest()
        seen.add((d[-1] % 2, d[-2] % 2, d[-3] % 2))
    assert len(seen) == 8


def test_spark_roundtrip(spark):
    """odt_to_spans over rendered bytes reproduces the interleaved span
    surface for the paragraph text, per doc, with fault isolation."""
    import pyarrow.parquet as pq

    table = pq.read_table(datagen.ensure_interleaved(0.001)).to_pylist()
    rows = [
        (row["doc_id"], render_doc(row["doc_id"], row["spans"]))
        for row in table[:40]
    ] + [("broken", b"PK\x03\x04garbage"), ("empty", b""), ("null", None)]
    df = spark.createDataFrame(rows, "doc_id string, content binary")
    out = odt_to_spans(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "InPandas" not in plan
    got = {r["doc_id"]: r["spans"] for r in out.collect()}
    assert got["broken"] == [] and got["empty"] == [] and got["null"] == []
    for row in table[:40]:
        # the writer renders body runs, figures and page breaks (the
        # same surface the pdf/rtf writers render); fig media_refs and
        # pb positions must survive bit-for-bit
        want = [
            (s["kind"], s["media_ref"] or "")
            for s in sorted(row["spans"], key=lambda s: s["offset"])
            if s["kind"] in ("fig", "pb")
        ]
        have = [
            (s["kind"], s["media_ref"] or "")
            for s in got[row["doc_id"]]
            if s["kind"] in ("fig", "pb")
        ]
        assert want == have, row["doc_id"]
