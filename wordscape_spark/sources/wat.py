"""WAT source: Common Crawl web-archive *metadata* files → a URL record
DataFrame feeding the stage-A operators (``operators/urls.py``).

Semantics mirrored from the reference's harvest stage
(app/src/cc_processing/cc_url_process.py:155-250): iterate the WARC
records of each WAT file, keep only ``WARC-Type: metadata`` records
(request/response records also carry links and must be SKIPPED), parse the
record payload as JSON, and recursively collect every string value — at
any nesting depth — that matches the document-URL pattern
(``find_matching_values``, cc_url_process.py:205-229; re.match semantics,
i.e. anchored at the start).

Spark shape: ``binaryFile`` rows (one per WAT file) → one ``map_rows``
pass (Arrow-batched, zero per-row Python UDFs) → (wat_path, record_uri,
url) rows.  At 100 TB this is the right granularity: WAT files are the
reference's own unit of work (one fetch per URI, cc_url_process.py:161-183)
and ``binaryFile`` never splits a file, so each ~1 GB WAT is one task —
thousands of files give thousands of independent tasks with no shuffle at
all until stage-A dedup.  The parse is record-streaming per file; only one
file's bytes are resident per task at a time.

WARC parsing is one stdlib walk over the WARC/1.x framing (version line +
headers, Content-Length payload, CRLF CRLF separators, multi-member gzip
per the Common Crawl layout) in place of the reference's ``warcio``
iterator (cc_url_process.py:17,174-183), so the source needs no
dependency beyond pyspark.
"""

from __future__ import annotations

import json
import re
import zlib
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

from wordscape_spark.sources.ingest import map_rows

# the reference's document-URL intent (cc_url_process.py:37 doc_pattern;
# the stage-A filter query reuses it)
DOC_URL_PATTERN = r"^(www|http:|https:)+[^\s]+[\w]\.(doc|docx)$"

WAT_SCHEMA = "wat_path string, record_uri string, url string"


def _parse_warc_headers(block: bytes) -> dict[str, str]:
    headers: dict[str, str] = {}
    for line in block.split(b"\r\n")[1:]:  # [0] is the WARC/1.x version line
        if b":" in line:
            k, v = line.split(b":", 1)
            headers[k.strip().decode("latin-1").lower()] = (
                v.strip().decode("latin-1")
            )
    return headers


def _gunzip_members(raw: bytes) -> bytes:
    """Member-by-member gunzip: Common Crawl WATs gzip each record as its
    own member, and real files can end in a truncated member or non-gzip
    trailer — ``gzip.decompress`` raises on those, so walk members with
    zlib and stop (never raise) at the first incomplete one."""
    parts: list[bytes] = []
    pos = 0
    n = len(raw)
    while pos < n and raw[pos:pos + 2] == b"\x1f\x8b":
        d = zlib.decompressobj(wbits=31)
        try:
            parts.append(d.decompress(raw[pos:]))
        except zlib.error:
            break
        if not d.eof:
            break  # truncated final member: keep the complete prefix
        pos = n - len(d.unused_data)
    return b"".join(parts)


def iter_warc_records(raw: bytes) -> Iterator[tuple[dict[str, str], bytes]]:
    """(headers, payload) for each record of a WARC/WAT byte string.

    Accepts plain or gzip bytes; Common Crawl gzips each record as its own
    member and Python's ``gzip.decompress`` consumes multi-member streams,
    so both layouts land on the same plain-bytes framing walk below.
    Malformed trailing bytes end iteration (never raise): a truncated WAT
    yields its complete prefix, matching the reference's tolerance of
    partial fetches (ArchiveLoadFailed → log and continue)."""
    if raw[:2] == b"\x1f\x8b":
        raw = _gunzip_members(raw)
    pos = 0
    n = len(raw)
    while pos < n:
        while pos < n and raw[pos:pos + 2] == b"\r\n":
            pos += 2
        if not raw.startswith(b"WARC/", pos):
            return
        hdr_end = raw.find(b"\r\n\r\n", pos)
        if hdr_end < 0:
            return
        headers = _parse_warc_headers(raw[pos:hdr_end])
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            return
        payload_start = hdr_end + 4
        if payload_start + length > n:
            return
        yield headers, raw[payload_start:payload_start + length]
        pos = payload_start + length


def find_matching_strings(value, pattern: re.Pattern) -> list[str]:
    """Depth-first collection of pattern-matching strings inside a parsed
    JSON value — the reference's ``find_matching_values``
    (cc_url_process.py:205-229) minus the json.loads, iterative so a
    deeply nested payload can't blow the recursion limit."""
    out: list[str] = []
    stack = [value]
    while stack:
        v = stack.pop()
        if isinstance(v, dict):
            stack.extend(v.values())
        elif isinstance(v, list):
            stack.extend(v)
        # fullmatch, not match: Python's '$' also matches just before a
        # trailing '\n' while RE2's (the DuckDB oracle dialect) matches only
        # end-of-text — fullmatch gives both engines end-of-text semantics,
        # so 'https://x.com/f.doc\n' is harvested by neither.
        elif isinstance(v, str) and pattern.fullmatch(v):
            out.append(v)
    return out


def _wat_file_rows(
    path: str, content: bytes, pattern: re.Pattern
) -> Iterator[tuple[str, str, str]]:
    for headers, payload in iter_warc_records(content):
        if headers.get("warc-type") != "metadata":
            continue  # request/response records also carry links: skip
        try:
            data = json.loads(payload)
        except (UnicodeDecodeError, json.JSONDecodeError):
            continue
        uri = headers.get("warc-target-uri", "")
        for url in find_matching_strings(data, pattern):
            yield path, uri, url


def read_wat(
    spark: SparkSession, location: str, glob: str = "*.wat*"
) -> DataFrame:
    """(wat_path, record_uri, url) rows for every document-URL mention in
    the WAT files under ``location`` — one output row per mention (the
    stage-A dedup is a separate, explicit operator, as in the reference
    where harvest and dedup are distinct jobs)."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(location)
        .select("path", "content")
    )
    pattern = re.compile(DOC_URL_PATTERN)
    return map_rows(
        files,
        lambda rows: [
            row
            for path, content in rows
            for row in _wat_file_rows(path, content, pattern)
        ],
        WAT_SCHEMA,
    )
