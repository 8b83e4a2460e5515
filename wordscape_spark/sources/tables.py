"""Source layer.

Reads (SURVEY §2.1 A1/A5, §2.5 E5):
* ``read_docs`` — the interleaved documents table.  Prefers an Iceberg
  catalog table when ``iceberg://db.table`` is given (partition pruning +
  snapshot isolation at 10^12 rows; needs the iceberg-spark runtime jar on a
  real cluster — not shipped in this sandbox, so the parquet path is the
  tested one), else a parquet directory/file with an enforced schema.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import ArrayType, IntegerType, StringType, StructType

from wordscape_spark.operators.extract import SPAN_TYPE


def _spans_canonical(dt) -> bool:
    """True iff the column is array<struct> with the contract children in
    the contract order/types (nullability ignored)."""
    if not isinstance(dt, ArrayType) or not isinstance(
        dt.elementType, StructType
    ):
        return False
    got = [(f.name, f.dataType) for f in dt.elementType.fields]
    want = [(f.name, f.dataType) for f in SPAN_TYPE.fields]
    return got == want


def normalize_docs(df: DataFrame) -> DataFrame:
    """Re-apply INPUT_SCHEMA by NAME at the source boundary.

    Spark's struct cast matches fields positionally, and the extraction hot
    path decodes Arrow struct children — so a conforming producer table with
    reordered struct fields or drifted widths (offset int64) must be
    canonicalized here, not trusted.  When the schema already matches the
    contract this is a plain column projection (no per-span expression)."""
    if "doc_id" not in df.columns or "spans" not in df.columns:
        raise ValueError(
            f"docs table must have (doc_id, spans); got {df.columns}"
        )
    spans_type = df.schema["spans"].dataType
    if _spans_canonical(spans_type):
        spans_col = F.col("spans")
    else:
        if not isinstance(spans_type, ArrayType) or not isinstance(
            spans_type.elementType, StructType
        ):
            raise ValueError(
                f"spans must be array<struct>; got {spans_type.simpleString()}"
            )
        names = {f.name for f in spans_type.elementType.fields}
        missing = [f.name for f in SPAN_TYPE.fields if f.name not in names]
        if missing:
            raise ValueError(f"spans struct missing fields: {missing}")
        # name-based rebuild in canonical order + canonical types
        spans_col = F.transform(
            "spans",
            lambda s: F.struct(
                s["kind"].cast(StringType()).alias("kind"),
                s["text"].cast(StringType()).alias("text"),
                s["media_ref"].cast(StringType()).alias("media_ref"),
                s["offset"].cast(IntegerType()).alias("offset"),
            ),
        )
    cols = [
        F.col("doc_id").cast(StringType()).alias("doc_id"),
        spans_col.alias("spans"),
    ]
    # keep the maintained n_spans size column when the producer wrote it
    # (extract's salt split prunes on it via row-group stats)
    if "n_spans" in df.columns:
        cols.append(F.col("n_spans").cast("long").alias("n_spans"))
    return df.select(*cols)


def read_docs(spark: SparkSession, location: str) -> DataFrame:
    if location.startswith("iceberg://"):
        df = spark.read.format("iceberg").load(location[len("iceberg://"):])
    else:
        df = spark.read.parquet(location)
    return normalize_docs(df)
