"""Legacy .doc (Word 97 binary) ingestion: the spec-built writer
(docgen_doc) and the independent reader (operators/doc_legacy) must
round-trip paragraph structure exactly, across the miniFAT and FAT storage
paths, mixed cp1252/UTF-16 piece encodings, and Prc-prefixed CLXs."""

import struct

import pytest

from wordscape_spark import datagen, pdfgen, rtfgen
from wordscape_spark import signal as sig
from wordscape_spark.docgen_doc import build_doc, doc_items, ensure_doc
from wordscape_spark.operators import extract as X
from wordscape_spark.operators.doc_legacy import (
    CfbFile,
    doc_to_spans,
    extract_doc_paragraph_runs,
    parse_doc_bytes,
)


def extract_doc_paragraphs(data: bytes) -> list[str | None]:
    """Paragraph texts in document order; ``None`` marks a page break."""
    return [
        item if item is None else item[0]
        for item in extract_doc_paragraph_runs(data)
    ]


def test_roundtrip_small_doc_uses_ministream():
    items = ["Hello world", "ünïcode ★ piece", None, "after the break"]
    data = build_doc(items)
    cfb = CfbFile(data)
    wd = next(e for e in cfb.entries if e["name"] == "WordDocument")
    assert wd["size"] < 4096  # stored in the ministream
    assert extract_doc_paragraphs(data) == items


def test_roundtrip_large_doc_uses_fat_chain():
    items = [f"Paragraph {i} padded out with enough text to leave the "
             "mini stream far behind" for i in range(120)]
    data = build_doc(items)
    cfb = CfbFile(data)
    wd = next(e for e in cfb.entries if e["name"] == "WordDocument")
    assert wd["size"] >= 4096
    assert extract_doc_paragraphs(data) == items


def test_piece_table_mixes_encodings():
    """≥9-char text splits into 3 pieces with seams mid-paragraph; the
    even pieces are cp1252-compressed when encodable."""
    items = ["abcdefghijklmnopqrstuvwxyz0123456789 more text here"]
    data = build_doc(items)
    cfb = CfbFile(data)
    table = cfb.stream("0Table")
    # skip the deliberate Prc, then count PCDs
    pos = 3 + struct.unpack_from("<H", table, 1)[0]
    assert table[pos] == 0x02
    lcb = struct.unpack_from("<I", table, pos + 1)[0]
    n = (lcb - 4) // 12
    assert n == 3
    fcs = [
        struct.unpack_from("<I", table, pos + 5 + 4 * (n + 1) + 8 * i + 2)[0]
        for i in range(n)
    ]
    compressed = [bool(fc & 0x40000000) for fc in fcs]
    assert compressed == [True, False, True]
    assert extract_doc_paragraphs(data) == items


def test_1table_stream_variant():
    """fWhichTblStm=1 routes the CLX through a 1Table stream."""
    items = ["First paragraph text", None, "second one"]
    data = build_doc(items, which_table=1)
    names = {e["name"] for e in CfbFile(data).entries if e["type"] == 2}
    assert names == {"WordDocument", "1Table"}
    assert extract_doc_paragraphs(data) == items


def test_control_chars_normalized_and_marks_stripped():
    data = build_doc(["keep\ttab", "strip\x01obj\x02and\x13field\x15marks"])
    # the writer normalizes input ctrl chars; craft reader-side stripping
    # coverage by checking the writer's normalization output
    assert extract_doc_paragraphs(data) == [
        "keep\ttab", "strip obj and field marks"
    ]


def test_corrupt_bytes_become_reject_rows(spark):
    rows = [("good", build_doc(["A" * 300])), ("bad", b"\x00" * 64),
            ("truncated", build_doc(["B" * 300])[:100]), ("null", None)]
    df = spark.createDataFrame(rows, "doc_id string, content binary")
    spans = doc_to_spans(df)
    plan = spans._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "InPandas" not in plan
    out = X.extract(spans).select(
        "doc_id", "ok", "reject_reason"
    ).collect()
    got = {r["doc_id"]: (r["ok"], r["reject_reason"]) for r in out}
    assert got["good"] == (True, None)
    assert got["bad"][0] is False
    assert got["truncated"][0] is False
    assert got["null"][0] is False


def test_interleaved_render_groups_split_paragraphs():
    """One paragraph grouping feeds every writer: runs of one paragraph
    separated by non-run spans merge back into a single paragraph
    (matching the SQL oracle's GROUP BY par), page breaks and figures keep
    their places in offset order (.doc drops figures), header/footer/
    table/meta spans are skipped, and each format maps the first run's
    props, unknown size and bold included."""
    def span(offset, kind, text=None, ref=None):
        return {"kind": kind, "text": text, "offset": offset,
                "media_ref": ref}

    spans = [
        span(0, "pb"),
        span(1, "r;p=0;s=normal", "first "),
        span(2, "tc;t=0;r=0;c=0;h=0", "cell"),
        span(3, "r;p=0;s=normal", "part"),
        span(4, "hp;p=0", "header"),
        span(5, "pb"),
        span(6, sig.encode_run(1, "heading 1", size=14.0, bold=True),
             "second"),
        span(7, "fig", ref="img1.png"),
        span(8, "fp;p=0", "footer"),
        span(9, sig.encode_meta("core_title"), "Title"),
        span(10, sig.encode_run(2, "", size=-1.0, bold=None), "third"),
        span(11, sig.encode_run(2, "x", size=9.0, bold=False), " more"),
    ][::-1]  # the grouping walks offset order, not input order
    assert [
        item if item is None else item["text"] for item in doc_items(spans)
    ] == [None, "first part", None, "second", "third more"]
    assert [
        None if it is None else (it["bold"], it["hps"], it["style"])
        for it in doc_items(spans)
    ] == [None, (None, None, "normal"), None, (True, 28, "heading 1"),
          (None, None, "")]
    pb, fig = {"type": "pb"}, {"type": "fig", "ref": "img1.png"}
    assert sig.body_items(spans, rtfgen.par_item) == [
        pb,
        {"type": "par", "text": "first part", "hps": 22, "bold": False,
         "style": "normal"},
        pb,
        {"type": "par", "text": "second", "hps": 28, "bold": True,
         "style": "heading 1"},
        fig,
        {"type": "par", "text": "third more", "hps": 22, "bold": False,
         "style": ""},
    ]
    assert sig.body_items(spans, pdfgen.par_item) == [
        pb,
        {"type": "par", "text": "first part", "size": 11.0, "bold": False},
        pb,
        {"type": "par", "text": "second", "size": 14.0, "bold": True},
        fig,
        {"type": "par", "text": "third more", "size": 11.0, "bold": False},
    ]


def test_sf0001_doc_chain_matches_interleaved_serialization(spark):
    """Full chain at sf0.001: render → parse → classify; doc text must
    equal the body-run serialization computed directly from the
    interleaved table (the dual-dialect oracle's model)."""
    import re

    import pyarrow.parquet as pq

    ctrl = re.compile("[\x00-\x08\x0a-\x1f]")
    expected = {}
    for row in pq.read_table(datagen.ensure_interleaved(0.001)).to_pylist():
        pars: dict[int, list] = {}
        for s in row["spans"]:
            if s["kind"].startswith("r;"):
                m = re.search(r"p=(\d+)", s["kind"])
                if m:
                    pars.setdefault(int(m.group(1)), []).append(
                        (s["offset"], s["text"] or "")
                    )
        ptexts = [
            ctrl.sub(" ", "".join(t for _, t in sorted(v)))
            for _, v in sorted(pars.items())
        ]
        text = "\n".join(t for t in ptexts if t)
        if len(text) >= 200:
            expected[row["doc_id"]] = text

    path = ensure_doc(0.001)
    got = {
        r["doc_id"]: r["text"]
        for r in X.extract(doc_to_spans(spark.read.parquet(path)))
        .filter("ok").select("doc_id", "text").collect()
    }
    assert got == expected and len(expected) > 100


# ---------------------------------------------------------------------------
# property fuzz: arbitrary paragraph lists round-trip byte-exactly
# ---------------------------------------------------------------------------

import hypothesis.strategies as st
from hypothesis import given, settings


_par_text = st.text(
    alphabet=st.characters(
        blacklist_categories=("Cs",),  # no lone surrogates
    ),
    max_size=120,
)
_items = st.lists(
    st.one_of(_par_text, st.none()),  # None = page break
    max_size=12,
)


@settings(max_examples=120, deadline=None)
@given(_items)
def test_fuzz_roundtrip_paragraphs(items):
    """For any paragraph list, parse(build(items)) recovers the writer's
    normalized view: ctrl chars → spaces, reader-side mark stripping, and
    the trailing empty paragraph the final \\r can add."""
    import re

    data = build_doc(items)
    got = extract_doc_paragraphs(data)

    ctrl = re.compile("[\x00-\x08\x0a-\x1f]")
    strip = dict.fromkeys([0x01, 0x02, 0x05, 0x08, 0x13, 0x14, 0x15])
    expected = [
        None if it is None
        else ctrl.sub(" ", it).translate(strip)
        for it in items
    ]
    if not items or items[-1] is None:
        expected.append("")  # final \r after a page break / empty doc
    assert got == expected


def test_styled_roundtrip_builtin_and_custom_styles():
    """r6: paragraph styles written as STSH + PAPX istd runs come back by
    NAME through the reader's PAPX→STSH chain — across fixed-slot
    builtins (heading 1-9 at their reserved istds), appended document
    styles, empty styled paragraphs, page breaks, and the 1Table
    variant."""
    from wordscape_spark.docgen_doc import build_doc
    from wordscape_spark.operators.doc_legacy import (
        extract_doc_paragraph_runs,
    )

    items = [
        {"text": "Introduction", "style": "heading 1"},
        "plain paragraph",
        {"text": "Background", "style": "heading 2", "bold": True,
         "hps": 28},
        {"text": "custom styled", "style": "fancy title"},
        None,
        {"text": "after break", "style": "macro"},
        {"text": "", "style": "heading 9"},
    ]
    for which in (0, 1):
        runs = extract_doc_paragraph_runs(build_doc(items, which_table=which))
        styles = [r if r is None else r[3] for r in runs]
        assert styles == [
            "heading 1", "normal", "heading 2", "fancy title", None,
            "macro", "heading 9",
        ]
    # CHPX formatting coexists with PAPX on the same paragraph
    runs = extract_doc_paragraph_runs(build_doc(items))
    assert runs[2] == ("Background", True, 14.0, "heading 2")


def test_styled_roundtrip_spills_fkp_pages():
    """300 paragraphs force multiple PapxFkp pages and piece seams; every
    style must survive the bin-table walk."""
    from wordscape_spark.docgen_doc import build_doc
    from wordscape_spark.operators.doc_legacy import (
        extract_doc_paragraph_runs,
    )

    def want(i):
        if i % 4 == 0:
            return f"heading {(i % 9) + 1}"
        return "stylex" if i % 7 == 0 else None

    items = [
        {"text": f"Paragraph {i} with padding text spread across pieces",
         "style": want(i)}
        for i in range(300)
    ]
    runs = extract_doc_paragraph_runs(build_doc(items))
    assert len(runs) == 300
    for i, r in enumerate(runs):
        assert r[3] == (want(i) or "normal"), (i, r)
