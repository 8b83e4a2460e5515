"""Dataset shaping (E10) — the reference's extension-dataset filters
(README_EXTENSIONS.md:62-78, wordscape_yolo_formatter.py:15-93):
entity-class drops, class merges (heading_1..9 → heading), quality/language
thresholds, per-class minimum counts, deterministic sampling.

Sampling is *hash-based*, not ``sample()``: ``pmod(hash(doc_id), 100) <
pct`` is deterministic under any partitioning/retry (a requirement the
reference meets trivially by being single-pass; Spark's seeded sample is not
stable across partitionings), and it is reproducible by the SQL oracle.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

# default class merge: all heading levels into one class
HEADING_MERGE = {f"heading_{i}": "heading" for i in range(1, 10)}


def remap_kinds(
    spans: DataFrame, mapping: dict[str, str] | None = None
) -> DataFrame:
    """Merge/rename span classes (exploded spans input: doc_id, kind, ...)."""
    mapping = HEADING_MERGE if mapping is None else mapping
    expr = "CASE " + " ".join(
        f"WHEN kind = '{src}' THEN '{dst}'" for src, dst in mapping.items()
    ) + " ELSE kind END"
    return spans.withColumn("kind", F.expr(expr))


def class_minimum_filter(spans: DataFrame, min_count: int) -> DataFrame:
    """Keep only classes with at least ``min_count`` spans corpus-wide —
    one tiny aggregate broadcast back (never a window over all spans)."""
    counts = spans.groupBy("kind").agg(F.count("*").alias("n"))
    keep = counts.filter(F.col("n") >= min_count).select("kind")
    return spans.join(F.broadcast(keep), "kind")


def _bucket_expr(col: str, dialect: str) -> str:
    """Deterministic 0..99 bucket from an id (md5-based, oracle-parity)."""
    if dialect == "spark":
        return f"pmod(CAST(conv(substr(md5(CAST({col} AS STRING)), 1, 8), 16, 10) AS BIGINT), 100)"
    return f"((('0x' || substr(md5(CAST({col} AS VARCHAR)), 1, 8))::BIGINT) % 100)"


def deterministic_sample(
    df: DataFrame, pct: int, id_col: str = "doc_id"
) -> DataFrame:
    """Keep ~pct% of rows, stable under repartitioning and retries."""
    return df.filter(F.expr(f"{_bucket_expr(id_col, 'spark')} < {pct}"))


DEFAULT_SPLITS = {"train": 98, "val": 1, "test": 1}


def split_expr(
    id_col: str, weights: dict[str, int], dialect: str
) -> str:
    """Deterministic train/val/test (or any named-split) label from the
    id's md5 bucket — the standard leakage-safe split for training
    corpora: stable under repartitioning, retries and re-runs (Spark's
    ``randomSplit`` is none of those), and any later document joins back
    to its split by id alone.  ``weights`` are integer percents summing
    to 100; thresholds are cumulative in dict order."""
    if sum(weights.values()) != 100:
        raise ValueError("split weights must sum to 100")
    bucket = _bucket_expr(id_col, dialect)
    names = list(weights)
    whens, acc = [], 0
    for name in names[:-1]:
        acc += weights[name]
        whens.append(f"WHEN {bucket} < {acc} THEN '{name}'")
    return "CASE " + " ".join(whens) + f" ELSE '{names[-1]}' END"


def assign_split(
    df: DataFrame,
    weights: dict[str, int] | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Add a ``split`` column (per-row expression, zero Exchange)."""
    weights = DEFAULT_SPLITS if weights is None else weights
    return df.withColumn(
        "split", F.expr(split_expr(id_col, weights, "spark"))
    )


def stream_expr(col: str, n_streams: int, dialect: str) -> str:
    """Deterministic 0..n_streams-1 stream id from an id column (md5 prefix,
    stable under retries/repartitioning, mirrorable in DuckDB)."""
    if dialect == "spark":
        return (
            f"pmod(CAST(conv(substr(md5(CAST({col} AS STRING)), 1, 8),"
            f" 16, 10) AS BIGINT), {n_streams})"
        )
    return (
        f"((('0x' || substr(md5(CAST({col} AS VARCHAR)), 1, 8))::BIGINT)"
        f" % {n_streams})"
    )


def token_budget_sample(
    df: DataFrame,
    budget_per_lang: int,
    lang_col: str = "lang",
    tokens_col: str = "tokens",
    order_col: str = "doc_id",
    n_streams: int = 32,
) -> DataFrame:
    """Select documents per language until a token budget is filled — the
    training-data "N tokens per language" shaping op.

    Scale shape: a per-language global cumulative-sum window is ONE sort
    partition per language — at corpus scale the dominant language's
    entire (doc_id, tokens) row set sorts in a single task.  Documents
    instead hash into ``n_streams`` md5 streams within each language
    (retry/partitioning-stable, oracle-mirrorable), each stream filling
    ``budget_per_lang // n_streams`` tokens independently; the window
    partitions by (lang, stream) so every sort is ~1/n_streams of a
    language and shrinks as ``n_streams`` grows.  ``n_streams=1``
    recovers the exact global-order prefix.

    Residual approximation (first-fit per stream, mirroring shard_pack's
    overflow note): the selected set differs from the global-order prefix
    — each stream stops at its own budget boundary — but the total
    selected tokens never exceed ``budget_per_lang`` (floor division),
    and selection is deterministic in (stream, order_col) order.
    ``cum_tokens`` in the output is the per-stream running total."""
    from pyspark.sql.window import Window

    per_stream = budget_per_lang // n_streams
    w = (
        Window.partitionBy(lang_col, "_tb_stream")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.withColumn(
            "_tb_stream", F.expr(stream_expr(order_col, n_streams, "spark"))
        )
        .withColumn("cum_tokens", F.sum(tokens_col).over(w))
        .filter(F.col("cum_tokens") <= per_stream)
        .drop("_tb_stream")
    )


def pack_sequences(
    df: DataFrame,
    seq_len: int,
    tokens_col: str = "n_tokens",
    id_col: str = "doc_id",
    n_streams: int | None = None,
) -> DataFrame:
    """Concat-and-slice sequence packing — the GPT-pretraining step that
    concatenates every document's tokens (plus one EOS separator) into a
    stream and slices it into fixed ``seq_len`` training sequences,
    documents splitting across sequence boundaries (the standard causal-LM
    loader geometry; contrast ``shard_pack``, which never splits a
    document, and ``chunk_documents``, which windows each document
    independently).

    Returns one row per (document × sequence it overlaps):
    ``(seq_id, doc_id, doc_from, doc_to, seq_off)`` — tokens
    ``[doc_from, doc_to)`` of the document (0-based; index ``n_tokens``
    is the EOS) occupy the sequence starting at offset ``seq_off``.
    Every sequence is exactly ``seq_len`` tokens except each stream's
    trailing remainder (the trainer drops or pads it).

    Scale shape: the token stream is decomposed into ``n_streams`` md5
    streams exactly like ``shard_pack`` — the cumulative-sum window
    sorts ~1/n_streams of the corpus per partition, never the whole
    corpus, and the per-(doc, sequence) fan-out is a per-row
    ``explode(sequence(...))`` with no further shuffle.  Assignment is
    deterministic in (stream, doc_id) order — retry/partitioning-stable
    and replayable relationally by the oracle."""
    from pyspark.sql.window import Window

    if seq_len <= 0:
        raise ValueError("seq_len must be positive")
    if n_streams is None:
        n_streams = shard_pack_streams(df.count())
    w = (
        Window.partitionBy("_ps_stream")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    L = seq_len
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            (F.col(tokens_col).cast("long") + F.lit(1)).alias("_ps_n"),
        )
        .filter(F.col("_ps_n") > 1)  # empty docs contribute nothing
        .withColumn(
            "_ps_stream", F.expr(stream_expr("doc_id", n_streams, "spark"))
        )
        .withColumn("_ps_end", F.sum("_ps_n").over(w))
        .withColumn("_ps_start", F.col("_ps_end") - F.col("_ps_n"))
        .select(
            "doc_id", "_ps_stream", "_ps_n", "_ps_start",
            F.explode(
                # integer division (div), not double '/': past ~2^53
                # cumulative tokens per stream the double truncation can
                # drift from the oracle's exact '//' floor (ADVICE r6)
                F.expr(f"sequence(_ps_start div {L}, "
                       f"(_ps_end - 1) div {L})")
            ).alias("_ps_k"),
        )
        .select(
            F.concat_ws("-", "_ps_stream", "_ps_k").alias("seq_id"),
            "doc_id",
            (F.greatest(F.col("_ps_start"), F.col("_ps_k") * L)
             - F.col("_ps_start")).cast("int").alias("doc_from"),
            (F.least(F.col("_ps_start") + F.col("_ps_n"),
                     (F.col("_ps_k") + 1) * L)
             - F.col("_ps_start")).cast("int").alias("doc_to"),
            (F.greatest(F.col("_ps_start"), F.col("_ps_k") * L)
             - F.col("_ps_k") * L).cast("int").alias("seq_off"),
        )
    )


SHARD_STREAM_TARGET = 65_536  # aim each stream's local sort at ~64k docs
SHARD_STREAM_FLOOR = 256      # ≫ any executor-thread count we'd deploy on


def shard_pack_streams(n_docs: int) -> int:
    """Derive the shard-pack stream count from corpus cardinality (the
    ``semantic_nlist`` pattern, similarity.py): each stream's running-sum
    window is one local sort of ~``n_docs / n_streams`` rows, so target
    ~``SHARD_STREAM_TARGET`` docs per stream with a floor that keeps
    every deployment's executors saturated.  A fixed constant violates
    the operator's own "``n_streams`` ≫ executor count" requirement the
    moment the corpus outgrows it."""
    return max(SHARD_STREAM_FLOOR, -(-n_docs // SHARD_STREAM_TARGET))


def shard_pack(
    df: DataFrame,
    tokens_col: str = "n_tokens",
    id_col: str = "doc_id",
    shard_tokens: int = 50_000,
    n_streams: int | None = None,
) -> DataFrame:
    """Pack documents into pretraining shards of ~``shard_tokens`` tokens
    each — the tar-shard creation step of the reference's pretrain
    extension (formatter.py:131-180 samples into tar shards), as a
    deterministic first-fit-streaming assignment: a document belongs to
    the shard its first token falls in, in a stable document order.

    Scale shape: a single global ordered cumulative sum is a
    one-partition sort — the classic Spark window trap.  Documents
    instead hash into ``n_streams`` independent streams (md5-based, so
    retry/partitioning-stable AND oracle-mirrorable), and the running
    token count is a window per stream: ``n_streams`` ≫ executor count
    keeps every sort local and bounded at any corpus size.  When
    ``n_streams`` is None it is derived from the corpus cardinality via
    ``shard_pack_streams`` (costs one count() job over the input plan —
    pass it explicitly to skip).  Shards may overflow by at most one
    document (first-fit semantics — standard for tar shards; a shard
    boundary never splits a document).

    Returns (doc_id, n_tokens, shard_id) with shard_id =
    '<stream>-<local shard index>'."""
    from pyspark.sql.window import Window

    if n_streams is None:
        n_streams = shard_pack_streams(df.count())
    w = (
        Window.partitionBy("stream")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.col(tokens_col).cast("long").alias("n_tokens"),
        )
        .withColumn("stream", F.expr(stream_expr("doc_id", n_streams, "spark")))
        .withColumn("cum", F.sum("n_tokens").over(w))
        .select(
            "doc_id",
            "n_tokens",
            F.concat_ws(
                "-",
                F.col("stream"),
                F.floor((F.col("cum") - F.col("n_tokens"))
                        / F.lit(shard_tokens)).cast("string"),
            ).alias("shard_id"),
        )
    )
