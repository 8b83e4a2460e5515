"""docx-bytes ingestion: building a real OOXML zip from the span grammar and
parsing it back must reproduce the original signal (and therefore identical
classification).  Builder (docxgen) and parser (operators.docx) share no
code — the round-trip pins the grammar contract from both sides."""

import pyarrow.parquet as pq
import pytest

from wordscape_spark import datagen, docxgen
from wordscape_spark.config import DEFAULT_CONFIG
from wordscape_spark.core import classify as C
from wordscape_spark.operators import docx as DX
from wordscape_spark.operators import extract as X

_BODY_TAGS = {"r", "tc", "fig", "sdt", "xp", "pb"}


def _roundtrippable(spans) -> bool:
    """hp/fp parts are out-of-band in OOXML — the parser emits them before
    the body, so docs with mid-body header/footer spans reorder (their
    classification is unchanged except page assignment; raw-span equality
    only holds when streams lead)."""
    seen_body = False
    for s in sorted(spans, key=lambda s: s["offset"]):
        tag = s["kind"].split(";")[0]
        if tag in ("hp", "fp"):
            if seen_body:
                return False
        elif tag in _BODY_TAGS:
            seen_body = True
    return True


@pytest.fixture(scope="module")
def docs():
    return pq.read_table(datagen.ensure_interleaved(0.001)).to_pylist()


def test_docx_roundtrip_raw_spans(docs):
    covered = 0
    for row in docs:
        if not _roundtrippable(row["spans"]):
            continue
        data = docxgen.build_docx(row["spans"])
        parsed = DX.parse_docx_bytes(data)
        orig = [
            (s["kind"], s["text"] or "", s["media_ref"])
            for s in sorted(row["spans"], key=lambda s: s["offset"])
        ]
        got = [(s["kind"], s["text"], s["media_ref"]) for s in parsed]
        assert got == orig, row["doc_id"]
        covered += 1
    assert covered >= 150  # sf0.001 has 200 docs; streams are ~5%


def test_docx_roundtrip_classification(docs):
    """Even for non-roundtrippable (stream-reordered) docs, text / counts /
    quality / props must be identical; full results for the rest."""
    for row in docs:
        orig_spans = [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in row["spans"]
        ]
        expected = C.classify_document(orig_spans, DEFAULT_CONFIG)
        parsed = DX.parse_docx_bytes(docxgen.build_docx(row["spans"]))
        got = C.classify_document(
            [
                (s["kind"], s["text"], s["media_ref"], s["offset"])
                for s in parsed
            ],
            DEFAULT_CONFIG,
        )
        assert got.ok == expected.ok, row["doc_id"]
        assert got.text == expected.text, row["doc_id"]
        assert got.counts == expected.counts, row["doc_id"]
        assert got.quality == pytest.approx(expected.quality), row["doc_id"]
        assert got.props == expected.props, row["doc_id"]
        assert got.lang_tags == expected.lang_tags, row["doc_id"]
        if _roundtrippable(row["spans"]):
            assert got.spans == expected.spans, row["doc_id"]
            assert got.span_pages == expected.span_pages, row["doc_id"]
            assert got.pages == expected.pages, row["doc_id"]


def test_docx_ingest_spark(spark, docs):
    """The distributed ingestion path: binary parquet → docx_to_spans →
    extract must equal the pure-Python oracle per document."""
    path = docxgen.ensure_docx(0.001)
    spans_df = DX.docx_to_spans(spark.read.parquet(path))
    got = {r["doc_id"]: r for r in X.extract(spans_df).collect()}
    assert len(got) == len(docs)
    for row in docs:
        orig_spans = [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in row["spans"]
        ]
        expected = C.classify_document(orig_spans, DEFAULT_CONFIG)
        r = got[row["doc_id"]]
        assert r["ok"] == expected.ok, row["doc_id"]
        assert r["text"] == expected.text, row["doc_id"]
        assert dict(r["counts"]) == expected.counts, row["doc_id"]


def test_malformed_docx_rejects(spark):
    """Garbage bytes and a NULL content must become an empty-spans row
    (then a min_text reject downstream), never a task failure."""
    df = spark.createDataFrame(
        [("junk-1", b"not a zip"), ("junk-2", b"PK\x03\x04corrupt"),
         ("junk-3", None)],
        "doc_id string, content binary",
    )
    spans = DX.docx_to_spans(df)
    plan = spans._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "InPandas" not in plan
    assert all(r["spans"] == [] for r in spans.collect())
    rows = X.extract(spans).collect()
    assert sorted(r["doc_id"] for r in rows) == ["junk-1", "junk-2", "junk-3"]
    assert all(not r["ok"] for r in rows)


def test_binary_test_data_is_byte_reproducible(docs, monkeypatch):
    """The .docx, ODT and WAT writers stamp no clock time: rendering the
    same docs at two different instants gives the same bytes (zip entries
    carry the fixed 1980-01-01 stamp, gzip members mtime 0)."""
    import time

    from wordscape_spark import odtgen, watgen

    real_localtime = time.localtime

    def render_at(instant):
        monkeypatch.setattr(time, "time", lambda: instant)
        monkeypatch.setattr(
            time, "localtime",
            lambda t=None: real_localtime(instant if t is None else t),
        )
        return (
            [docxgen.build_docx(d["spans"]) for d in docs[:20]],
            [odtgen.render_doc(d["doc_id"], d["spans"]) for d in docs[:20]],
            watgen.generate(0.001)[0],
        )

    assert render_at(1_000_000_000.0) == render_at(1_700_000_000.0)
