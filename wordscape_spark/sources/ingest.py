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
"""

from __future__ import annotations

from pyspark.sql import DataFrame
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


def binary_to_rows(df: DataFrame, parse, schema: StructType) -> DataFrame:
    """The one binary-ingestion step: (doc_id, content binary) → ``schema``
    rows in one ``mapInArrow`` pass, zero shuffle.

    ``parse(content)`` returns the row's columns after ``doc_id``: the spans
    list alone when ``schema`` has two columns, else a tuple of them.  A
    NULL content parses as ``b""``.  Per-document fault isolation: a parse
    that raises yields empty spans (NULL for any other column) instead of
    failing the task.  Each output column is one ``pa.array`` against the
    schema's Arrow type, so the nested spans convert in C++ without pandas."""
    width = len(schema.fields) - 1

    def parse_one(content: bytes | None) -> tuple:
        try:
            row = parse(b"" if content is None else content)
        except Exception:  # noqa: BLE001 — isolation boundary
            return (None,) * (width - 1) + ([],)
        return row if width > 1 else (row,)

    def parse_batches(batches):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_schema = to_arrow_schema(schema)
        for batch in batches:
            rows = [parse_one(c) for c in batch.column(1).to_pylist()]
            if not rows:
                continue
            cols = [batch.column(0)] + [
                pa.array(col, t)
                for col, t in zip(zip(*rows), arrow_schema.types[1:])
            ]
            yield pa.RecordBatch.from_arrays(cols, schema=arrow_schema)

    return df.select("doc_id", "content").mapInArrow(parse_batches, schema)


def mixed_to_spans(df: DataFrame) -> DataFrame:
    """Arrow-batched mixed-format ingestion: (doc_id, content binary) →
    (doc_id, format, spans) in one pass."""
    from wordscape_spark.operators.extract import INPUT_SCHEMA

    out_schema = StructType(
        [INPUT_SCHEMA[0], StructField("format", StringType(), False),
         INPUT_SCHEMA[1]]
    )
    return binary_to_rows(df, parse_any_bytes, out_schema)
