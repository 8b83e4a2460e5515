"""Mixed-format document ingestion: one magic-byte-dispatched front door
for the binary formats the engine reads (.docx OOXML zip, ODT ODF zip,
legacy .doc compound file, PDF, RTF).

The reference's download pipeline sniffs fetched payloads and routes
them to per-format handling (reference
app/src/data_sources/download_process.py content-type/extension gates);
this is the Spark-side analog: one :func:`binary_to_rows` pass over the
``(doc_id, content: binary)`` table that detects each row's container by
magic bytes and invokes the matching parser, emitting the interleaved
span grammar plus a ``format`` audit column.  The same helper is the one
ingestion step of every per-format front door (``docx_to_spans`` & co.).

Why per-row dispatch instead of three filtered DataFrame branches: all
three parsers are Python-side anyway (the bytes must cross into Arrow
once either way), and a branch-per-format plan re-scans the source table
once per format — at 10^12 rows the single pass wins and nothing is lost
to Catalyst (there are no per-format columns to prune).  Zero shuffle;
per-document fault isolation (a corrupt container of ANY format yields
an empty spans array + its detected format, never a task failure; a
NULL content reads as an empty, ``unknown`` payload).

``binary_to_rows`` runs on :func:`map_rows`, the one executor row step of
the package: every Python producer that builds rows (WAT harvest, HTTP
acquisition, maldoc scan, dup-n-gram coverage, media operators) is one
``mapInArrow`` pass that decodes each Arrow batch to row tuples and builds
each output column with one ``pa.array``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StringType, StructField, StructType

#: container magics (each a real file-format signature, not an extension)
_PDF_MAGIC = b"%PDF"
_CFB_MAGIC = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"
_ZIP_MAGIC = b"PK\x03\x04"
_RTF_MAGIC = b"{\\rtf"

FORMAT_PDF = "pdf"
FORMAT_DOC = "doc"
FORMAT_DOCX = "docx"
FORMAT_RTF = "rtf"
FORMAT_ODT = "odt"
FORMAT_UNKNOWN = "unknown"


def _sniff_zip(data: bytes) -> str:
    """Disambiguate the PK container WITHOUT opening the zip: an ODF
    package's first local entry must be the STORED ``mimetype`` member
    (ODF 1.2 §3.3), so its name and content sit at fixed offsets in the
    first local file header; anything else is treated as OOXML."""
    if len(data) < 30:
        return FORMAT_DOCX
    name_len = int.from_bytes(data[26:28], "little")
    name = data[30:30 + name_len]
    if name == b"mimetype":
        csize = int.from_bytes(data[18:22], "little")
        body = data[30 + name_len:30 + name_len + csize]
        if b"opendocument.text" in body:
            return FORMAT_ODT
    return FORMAT_DOCX


def detect_format(data: bytes) -> str:
    """Container detection by magic bytes (a PK zip is .docx unless its
    first member is an ODF ``mimetype``; distinguishing other OOXML/zip
    payloads is the caller's concern)."""
    if data[:4] == _PDF_MAGIC:
        return FORMAT_PDF
    if data[:8] == _CFB_MAGIC:
        return FORMAT_DOC
    if data[:4] == _ZIP_MAGIC:
        return _sniff_zip(data)
    if data[:5] == _RTF_MAGIC:
        return FORMAT_RTF
    return FORMAT_UNKNOWN


def parse_any_bytes(data: bytes) -> tuple[str, list[dict]]:
    """(detected format, span rows) for one payload; empty spans for an
    unknown container or a parse failure."""
    from wordscape_spark.operators.doc_legacy import parse_doc_bytes
    from wordscape_spark.operators.docx import parse_docx_bytes
    from wordscape_spark.operators.odt import parse_odt_bytes
    from wordscape_spark.operators.pdf import parse_pdf_bytes
    from wordscape_spark.operators.rtf import parse_rtf_bytes

    fmt = detect_format(data)
    parser = {
        FORMAT_PDF: parse_pdf_bytes,
        FORMAT_DOC: parse_doc_bytes,
        FORMAT_DOCX: parse_docx_bytes,
        FORMAT_RTF: parse_rtf_bytes,
        FORMAT_ODT: parse_odt_bytes,
    }.get(fmt)
    if parser is None:
        return fmt, []
    try:
        return fmt, parser(data)
    except Exception:  # noqa: BLE001 — isolation boundary
        return fmt, []


def rows_batch(rows: list[tuple], arrow_schema):
    """A RecordBatch of ``arrow_schema`` from row tuples in field order:
    one ``pa.array`` per column, so nested lists (of field tuples) and maps
    (as dicts) convert in C++ with no per-row dict."""
    import pyarrow as pa

    return pa.RecordBatch.from_arrays(
        [pa.array(col, f.type) for col, f in zip(zip(*rows), arrow_schema)],
        schema=arrow_schema,
    )


def map_rows(df: DataFrame, fn, schema: StructType | str) -> DataFrame:
    """The one executor row step: ``df`` → ``schema`` rows in one
    ``mapInArrow`` pass, zero shuffle.

    ``fn(rows)`` gets one Arrow batch as a list of input tuples (columns in
    ``df`` order, NULL as ``None``) and returns a list of output tuples in
    ``schema`` field order, zero or more per input row; a batch with no
    output yields nothing."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)

    def run(batches):
        for batch in batches:
            rows = fn(list(zip(*(c.to_pylist() for c in batch.columns))))
            if rows:
                yield rows_batch(rows, arrow_schema)

    return df.mapInArrow(run, schema)


def binary_to_rows(df: DataFrame, parse, schema: StructType) -> DataFrame:
    """The one binary-ingestion step: (doc_id, content binary) → ``schema``
    rows through :func:`map_rows`.

    ``parse(content)`` returns the row's columns after ``doc_id``: the spans
    list alone when ``schema`` has two columns, else a tuple of them.  A
    NULL content parses as ``b""``.  Per-document fault isolation: a parse
    that raises yields empty spans (NULL for any other column) instead of
    failing the task."""
    width = len(schema.fields) - 1

    def parse_one(content: bytes | None) -> tuple:
        try:
            row = parse(b"" if content is None else content)
        except Exception:  # noqa: BLE001 — isolation boundary
            return (None,) * (width - 1) + ([],)
        return row if width > 1 else (row,)

    return map_rows(
        df.select("doc_id", "content"),
        lambda rows: [(d, *parse_one(c)) for d, c in rows],
        schema,
    )


def mixed_to_spans(df: DataFrame) -> DataFrame:
    """Arrow-batched mixed-format ingestion: (doc_id, content binary) →
    (doc_id, format, spans) in one pass."""
    from wordscape_spark.operators.extract import INPUT_SCHEMA

    out_schema = StructType(
        [INPUT_SCHEMA[0], StructField("format", StringType(), False),
         INPUT_SCHEMA[1]]
    )
    return binary_to_rows(df, parse_any_bytes, out_schema)
