"""Mixed-format ingestion router (sources/ingest.py): magic-byte
dispatch to the .docx / ODT / legacy-.doc / PDF / RTF parsers in one
``binary_to_rows`` (mapInArrow) pass, with per-document fault isolation
across formats."""

from wordscape_spark.docgen_doc import build_doc
from wordscape_spark.odtgen import build_odt
from wordscape_spark.pdfgen import build_pdf
from wordscape_spark.rtfgen import build_rtf
from wordscape_spark.sources.ingest import (
    detect_format,
    mixed_to_spans,
    parse_any_bytes,
)


def par(text):
    return {"type": "par", "text": text, "size": 11.0, "bold": False}


def rpar(text):
    return {"type": "par", "text": text, "style": "", "hps": 22,
            "bold": False}


def _docx_bytes() -> bytes:
    from wordscape_spark import docxgen

    return docxgen.build_docx(
        [{"kind": "r;p=0;s=;psz=-1.0;pb=-;pi=-;sz=-1.0;b=-;i=-;u=0;m=0;n=0",
          "text": "docx body text", "media_ref": None, "offset": 0}]
    )


def test_detect_format_magics():
    assert detect_format(build_pdf([par("x")])) == "pdf"
    assert detect_format(build_doc(["x"])) == "doc"
    assert detect_format(b"PK\x03\x04whatever") == "docx"
    assert detect_format(b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1rest") == "doc"
    assert detect_format(b"%PDF-1.7 ...") == "pdf"
    assert detect_format(build_rtf([rpar("x")])) == "rtf"
    assert detect_format(b"{\\rtf1\\ansi hi}") == "rtf"
    # PK-zip disambiguation: ODF mimetype-first member vs OOXML
    assert detect_format(build_odt([rpar("x")])) == "odt"
    assert detect_format(_docx_bytes()) == "docx"
    assert detect_format(b"PK\x03\x04" + b"\x00" * 10) == "docx"
    assert detect_format(b"{not rtf}") == "unknown"
    assert detect_format(b"<html>") == "unknown"
    assert detect_format(b"") == "unknown"


def test_parse_any_routes_and_isolates():
    fmt, spans = parse_any_bytes(build_pdf([par("pdf text")]))
    assert fmt == "pdf" and spans[0]["text"] == "pdf text"
    fmt, spans = parse_any_bytes(build_doc(["doc text"]))
    assert fmt == "doc" and spans[0]["text"] == "doc text"
    # right magic, corrupt body → detected format, empty spans
    fmt, spans = parse_any_bytes(b"%PDF-1.4 but nothing else")
    assert fmt == "pdf" and spans == []
    fmt, spans = parse_any_bytes(b"PK\x03\x04 not a zip")
    assert fmt == "docx" and spans == []
    fmt, spans = parse_any_bytes(build_rtf([rpar("rtf text")]))
    assert fmt == "rtf" and spans[0]["text"] == "rtf text"
    fmt, spans = parse_any_bytes(build_odt([rpar("odt text")]))
    assert fmt == "odt" and spans[0]["text"] == "odt text"
    fmt, spans = parse_any_bytes(b"plain text payload")
    assert fmt == "unknown" and spans == []


def test_mixed_to_spans_single_pass(spark):
    rows = [
        ("a_pdf", build_pdf([par("alpha pdf body")])),
        ("b_doc", build_doc(["beta doc body"])),
        ("c_docx", _docx_bytes()),
        ("d_bad", b"%PDF-1.4 broken"),
        ("e_unknown", b"just text"),
        ("f_rtf", build_rtf([rpar("gamma rtf body")])),
        ("g_odt", build_odt([rpar("delta odt body")])),
        ("h_null", None),
    ]
    df = spark.createDataFrame(rows, "doc_id string, content binary")
    out = mixed_to_spans(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "InPandas" not in plan
    got = {r["doc_id"]: r for r in out.collect()}
    assert got["a_pdf"]["format"] == "pdf"
    assert got["a_pdf"]["spans"][0]["text"] == "alpha pdf body"
    assert got["b_doc"]["format"] == "doc"
    assert got["b_doc"]["spans"][0]["text"] == "beta doc body"
    assert got["c_docx"]["format"] == "docx"
    assert any(
        s["text"] == "docx body text" for s in got["c_docx"]["spans"]
    )
    assert got["d_bad"]["format"] == "pdf" and got["d_bad"]["spans"] == []
    assert got["e_unknown"]["format"] == "unknown"
    assert got["e_unknown"]["spans"] == []
    assert got["f_rtf"]["format"] == "rtf"
    assert got["f_rtf"]["spans"][0]["text"] == "gamma rtf body"
    assert got["g_odt"]["format"] == "odt"
    assert got["g_odt"]["spans"][0]["text"] == "delta odt body"
    assert got["h_null"]["format"] == "unknown"
    assert got["h_null"]["spans"] == []
