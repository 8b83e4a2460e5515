"""WAT source (sources/wat.py): WARC framing, record-type skip, recursive
JSON harvest, gzip truncation tolerance, and the Spark read path."""

import gzip
import json
import pathlib
import re

import pytest

from wordscape_spark import watgen
from wordscape_spark.sources import wat as W

PAT = re.compile(W.DOC_URL_PATTERN)


def _record(rec_type, uri, payload: bytes) -> bytes:
    return watgen._warc_record(rec_type, uri, payload)


def test_plain_and_gzip_framing_agree():
    payload = json.dumps({"url": "https://a.com/x.doc"}).encode()
    raw = _record("metadata", "https://a.com/", payload) + _record(
        "response", "https://b.com/", b"<html></html>"
    )
    plain = list(W.iter_warc_records(raw))
    gz = list(
        W.iter_warc_records(
            gzip.compress(
                _record("metadata", "https://a.com/", payload)
            )
            + gzip.compress(_record("response", "https://b.com/", b"<html></html>"))
        )
    )
    assert [h["warc-type"] for h, _ in plain] == ["metadata", "response"]
    assert plain == gz


def test_truncated_gzip_member_yields_prefix():
    payload = json.dumps({"u": "https://a.com/x.docx"}).encode()
    good = gzip.compress(_record("metadata", "https://a.com/", payload))
    bad = gzip.compress(_record("metadata", "https://b.com/", payload))[:20]
    records = list(W.iter_warc_records(good + bad))
    assert len(records) == 1
    assert records[0][0]["warc-target-uri"] == "https://a.com/"
    # non-gzip trailer after complete members: same tolerance
    records = list(W.iter_warc_records(good + b"\x00garbage"))
    assert len(records) == 1


def test_truncated_plain_payload_yields_prefix():
    payload = b"x" * 64
    raw = _record("metadata", "https://a.com/", payload)
    full = list(W.iter_warc_records(raw + b"WARC/1.0\r\nContent-Length: 999"))
    assert len(full) == 1


def test_find_matching_strings_depth_and_anchor():
    data = {
        "a": ["https://x.com/f.doc", {"b": {"c": "www.y.org/g.docx"}}],
        "miss": [
            "https://x.com/f.pdf",
            "see https://x.com/f.doc",  # re.match anchors at the start
            "https://x.com/odd..doc",
        ],
    }
    got = sorted(W.find_matching_strings(data, PAT))
    assert got == ["https://x.com/f.doc", "www.y.org/g.docx"]


def test_deeply_nested_payload_no_recursion_limit():
    v = "https://deep.com/file.doc"
    for _ in range(5000):
        v = [v]
    assert W.find_matching_strings(v, PAT) == ["https://deep.com/file.doc"]


def test_generator_truth_matches_parser():
    """End-to-end, Spark-free: parser output over generated bytes equals
    the ground-truth table filtered the oracle's way."""
    files, truth = watgen.generate(0.001)
    expected = sorted(
        (r["record_uri"], r["url"])
        for r in truth
        if r["rec_type"] == "metadata" and PAT.match(r["url"])
    )
    got = []
    for data in files:
        for headers, payload in W.iter_warc_records(data):
            if headers.get("warc-type") != "metadata":
                continue
            try:
                obj = json.loads(payload)
            except (UnicodeDecodeError, json.JSONDecodeError):
                continue
            uri = headers.get("warc-target-uri", "")
            got.extend((uri, u) for u in W.find_matching_strings(obj, PAT))
    assert sorted(got) == expected
    assert expected, "fixture must contain matching doc urls"
    # the fixture exercises the skip paths too
    assert any(r["rec_type"] != "metadata" for r in truth)
    assert any(not PAT.match(r["url"]) for r in truth)


def test_read_wat_spark(spark, tmp_path):
    files, truth = watgen.generate(0.001)
    for i, data in enumerate(files):
        (tmp_path / f"part-{i:05d}.wat.gz").write_bytes(data)
    (tmp_path / "ignored.parquet").write_bytes(b"not a wat")  # glob filter
    out = W.read_wat(spark, str(tmp_path)).collect()
    expected = sorted(
        (r["record_uri"], r["url"])
        for r in truth
        if r["rec_type"] == "metadata" and PAT.match(r["url"])
    )
    assert sorted((r["record_uri"], r["url"]) for r in out) == expected
    assert all(r["wat_path"].endswith(".wat.gz") for r in out)


@pytest.mark.parametrize("failing", ["part", "truth"])
def test_failed_write_leaves_no_tmp(tmp_path, monkeypatch, failing):
    """A write that raises part-way leaves neither its temp file nor the
    final file in the data dir (``datagen.write_atomic``)."""
    def boom(*args, **kwargs):
        target = next(a for a in args if isinstance(a, (str, pathlib.Path)))
        pathlib.Path(target).write_text("partial")
        raise OSError("disk full")

    monkeypatch.setattr(watgen, "BASE_DIR", tmp_path)
    if failing == "part":
        monkeypatch.setattr(pathlib.Path, "write_bytes", boom)
    else:
        monkeypatch.setattr(watgen.pq, "write_table", boom)
    with pytest.raises(OSError, match="disk full"):
        watgen.ensure_wat(0.001)
    names = sorted(p.name for p in tmp_path.rglob("*") if p.is_file())
    if failing == "part":
        assert names == []
    else:
        assert names == ["part-00000.wat.gz", "part-00001.wat.gz"]
