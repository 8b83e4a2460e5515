"""Streaming extraction: the same classifier over a file-source stream.

The reference is a batch pipeline (tar shards in, jsonl out); its incremental
behavior is resume-from-recovery-lists.  The Spark-native incremental story
is Structured Streaming: new parquet files landing in a directory are
micro-batched through the *identical* classification operator
(`extract` works unchanged on streaming DataFrames because its lazy DAG is
mapInArrow + filters), with exactly-once sink semantics via the stream
checkpoint — the streaming twin of plans/checkpoint.py.

``availableNow`` triggers give batch-equivalent runs (tested equal to the
batch path); continuous ingestion just drops the trigger.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from wordscape_spark.config import DEFAULT_CONFIG, ExtractConfig
from wordscape_spark.operators import extract as X


def read_doc_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(X.INPUT_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    available_now: bool = True,
    dedup: bool = False,
) -> StreamingQuery:
    """Stream documents → classified spans, exactly-once into parquet.

    Note: the streaming path uses the single-pass classifier for every doc
    (no salted path — a streaming micro-batch is already row-bounded) and
    the same mapInArrow flat-child decode as the batch hot path (measured
    ~2x over mapInPandas on this schema; mapInArrow works unchanged on
    streaming DataFrames).

    ``dedup=True`` adds *stateful* content dedup: a ``bytehash`` column, and
    the first occurrence of each content hash wins across micro-batches (the
    streaming twin of the bytehash history anti-join, deduplicate.py:10-56 —
    the in-driver hash set becomes Spark's state store, exactly-once via the
    stream checkpoint).  Scale note: without a watermark the dedup state
    grows with distinct content forever; on an unbounded production stream
    bound it with ``withWatermark`` + ``dropDuplicatesWithinWatermark``
    (dedup horizon) or periodically compact to the batch bytehash-history
    anti-join."""
    docs = read_doc_stream(spark, input_dir)
    out = docs.select("doc_id", "spans").mapInArrow(
        X._make_classify_arrow_fn(cfg), schema=X.EXTRACTED_SCHEMA
    )
    if dedup:
        # dedup only accepted docs: every reject has text='' and would
        # otherwise collapse onto sha256('') — the first reject would shadow
        # all later ones.  Rejects pass through unconditionally (they are
        # the audit side-output).
        hashed = out.withColumn("bytehash", F.sha2(F.col("text"), 256))
        out = hashed.filter("ok").dropDuplicates(["bytehash"]).unionByName(
            hashed.filter("NOT ok")
        )
    writer = (
        out.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
