"""RTF ingestion: the spec-built writer (rtfgen) and the independent
reader (operators/rtf) must round-trip paragraph text, the paragraph
STYLE name (stylesheet → \\sN → stylesheet parse), font size/bold,
figure media_refs (embedded \\pict blipuid AND linked INCLUDEPICTURE
fields), and page boundaries exactly — across \\'hh and \\uN? escape
modes and grouped/flat character formatting; foreign-RTF constructs
(\\ucN skipping, surrogate pairs, ignorable destinations, raw newlines)
must parse per the public RTF 1.9.1 specification."""

import hashlib

import pytest

from wordscape_spark import datagen
from wordscape_spark import signal as sig
from wordscape_spark.operators.rtf import parse_rtf_bytes, rtf_to_spans
from wordscape_spark.rtfgen import (
    build_rtf,
    escape_text,
    par_item,
    render_doc,
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
    for s in parse_rtf_bytes(data):
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


ALL_MODES = [
    (pict, hexm, grp)
    for pict in (False, True)
    for hexm in (False, True)
    for grp in (False, True)
]


@pytest.mark.parametrize("pict,hexm,grp", ALL_MODES)
def test_roundtrip_all_layout_modes(pict, hexm, grp):
    items = [
        par("Plain body text."),
        par("A Heading", style="heading 1", hps=32, bold=True),
        par("styled body", style="corporate body", hps=24),
        par(""),  # empty paragraph survives
        fig("media/image1.png"),
        PB,
        par("after the break", style="normal"),
    ]
    got = parsed_items(
        build_rtf(items, pict_figs=pict, hex_mode=hexm, grouped=grp)
    )
    assert got == items


@pytest.mark.parametrize("hexm", [False, True])
def test_roundtrip_escapes_and_unicode(hexm):
    items = [
        par("braces {a} and \\backslash\\"),
        par("bullets • ➢ ◦ ▪ and ümlaut"),
        par("tab\there, line\nbreak, nbsp\xa0kept"),
        par("   "),  # pure-whitespace paragraph preserved
        par("astral \U0001d400 char"),  # surrogate pair via two \uN
    ]
    got = parsed_items(build_rtf(items, hex_mode=hexm))
    assert got == items


def test_escape_modes_differ_but_agree():
    """ü is \\'fc in hex mode and \\u252? otherwise; both parse back."""
    hexed = escape_text("ü", hex_mode=True)
    uni = escape_text("ü", hex_mode=False)
    assert hexed == b"\\'fc" and uni == b"\\u252?"
    assert escape_text("•", hex_mode=True) == b"\\'95"  # cp1252 bullet
    arrow = escape_text("➢", hex_mode=True)
    assert arrow == b"\\u10146?"  # not cp1252-encodable even in hex mode


def test_foreign_rtf_uc_skipping_and_defaults():
    """\\uc2 demands two fallback chars after \\u; unknown control words
    and raw CR/LF are ignored; a paragraph without \\fs reports the RTF
    document default (12 pt)."""
    data = (
        b"{\\rtf1\\ansi\\uc2\n"
        b"\\pard\\qj hi \\u8226AB end\\par\r\n"
        b"}"
    )
    rows = parse_rtf_bytes(data)
    assert len(rows) == 1
    assert rows[0]["text"] == "hi • end"  # AB fallbacks skipped
    fields = dict(p.split("=", 1) for p in rows[0]["kind"].split(";")[1:])
    assert fields["sz"] == "12.0"


def test_ignorable_destination_and_tables_skipped():
    data = (
        b"{\\rtf1\\ansi"
        b"{\\fonttbl{\\f0 Arial;}}{\\colortbl;\\red1\\green2\\blue3;}"
        b"{\\*\\unknownthing {nested {deeper}} secret}"
        b"{\\info{\\title hidden title}}"
        b"\\pard visible\\par}"
    )
    rows = parse_rtf_bytes(data)
    assert [r["text"] for r in rows] == ["visible"]


def test_group_state_restores_formatting():
    data = (
        b"{\\rtf1\\ansi\\pard\\fs20 a{\\b\\fs40 LOUD}b\\par"
        b"\\pard\\fs20 quiet\\par}"
    )
    rows = parse_rtf_bytes(data)
    # paragraph props captured at FIRST text char ('a': fs20, not bold)
    f0 = dict(p.split("=", 1) for p in rows[0]["kind"].split(";")[1:])
    assert rows[0]["text"] == "aLOUDb"
    assert f0["sz"] == "10.0" and f0["b"] == "0"
    f1 = dict(p.split("=", 1) for p in rows[1]["kind"].split(";")[1:])
    assert f1["sz"] == "10.0" and f1["b"] == "0"


def test_field_without_includepicture_is_not_a_figure():
    data = (
        b"{\\rtf1{\\field{\\*\\fldinst PAGE }{\\fldrslt 3}}"
        b"\\pard text\\par}"
    )
    rows = parse_rtf_bytes(data)
    assert [r["kind"] for r in rows if r["kind"] == "fig"] == []


def test_pict_without_blipuid_yields_anonymous_figure():
    data = b"{\\rtf1{\\pict\\pngblip\\picw1\\pich1 00ff}\\pard t\\par}"
    rows = parse_rtf_bytes(data)
    figs = [r for r in rows if r["kind"] == "fig"]
    assert len(figs) == 1 and figs[0]["media_ref"] == ""


def test_leading_and_trailing_page_breaks():
    items = [PB, par("middle"), PB]
    assert parsed_items(build_rtf(items)) == items


@pytest.mark.parametrize(
    "mangle",
    [
        lambda d: d[: len(d) // 2],          # truncated mid-document
        lambda d: d.replace(b"}", b"", 3),   # unbalanced groups
        lambda d: d + b"}}}}",               # extra closers
        lambda d: d.replace(b"\\par", b"\\u99999999999999999", 1),
    ],
)
def test_malformed_rtf_never_hangs(mangle):
    data = mangle(build_rtf([par("abc"), fig("m"), PB, par("xyz")]))
    try:
        parse_rtf_bytes(data)
    except (ValueError, OverflowError):
        pass  # raising is fine; hanging or swallowing the corpus is not


def test_not_rtf_raises():
    with pytest.raises(ValueError):
        parse_rtf_bytes(b"%PDF-1.4 nope")


def test_differential_vs_interleaved_corpus():
    """parse(build(spans)) == body_items(spans, par_item) for every real
    sf0.001 document — layout bits mirror ensure_rtf's corpus policy, so
    all eight pict × hex × grouped combinations appear."""
    import pyarrow.parquet as pq

    table = pq.read_table(datagen.ensure_interleaved(0.001)).to_pylist()
    assert table
    seen = set()
    for row in table:
        expect = sig.body_items(row["spans"], par_item)
        digest = hashlib.md5(row["doc_id"].encode()).digest()
        seen.add((digest[-1] % 2, digest[-2] % 2, digest[-3] % 2))
        got = parsed_items(render_doc(row["doc_id"], row["spans"]))
        assert got == expect, row["doc_id"]
    assert len(seen) == 8  # every layout combination exercised


def test_rtf_to_spans_fault_isolation_and_plan(spark):
    rows = [
        ("ok", build_rtf([par("good document body")])),
        ("bad", b"{\\rtf1 truncated"),
        ("empty", b""),
        ("null", None),
    ]
    df = spark.createDataFrame(rows, "doc_id string, content binary")
    out = rtf_to_spans(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # ingestion never shuffles
    assert "InPandas" not in plan  # one mapInArrow step, no pandas hop
    got = {r["doc_id"]: r["spans"] for r in out.collect()}
    assert len(got["ok"]) == 1 and got["ok"][0]["text"] == "good document body"
    assert got["empty"] == [] and got["null"] == []
