"""Multimodal columns: media as opaque binary + typed metadata.

The reference ships page images and embedded media in tar shards
(annotator_process.py:321-348, figure.py:76-123); here media are rows of a
``media`` table: (doc_id, media_ref, content binary, fmt, width, height).
Bytes in the sandbox are deterministic pseudo-payloads derived from
media_ref, and the default decoders are byte-level surrogates, while the
Spark-side plumbing — schema, Arrow batch shape, ``map_rows`` feature
extraction — is real and tested.  On hosts with Pillow,
``adapters.pil_feature_decoder()`` / ``adapters.pil_resampler()`` plug
real decode (with the reference's decompression-bomb gate,
zip_bomb.py:63-131) into the ``decoder=``/``resampler=`` seams.
"""

from __future__ import annotations

import functools
import hashlib

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from wordscape_spark.sources.ingest import map_rows

MEDIA_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("media_ref", StringType()),
        StructField("content", BinaryType()),
        StructField("fmt", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("media_ref", StringType()),
        StructField("n_bytes", LongType()),
        StructField("byte_mean", DoubleType()),
        StructField("phash", StringType()),
    ]
)


_SEED_EXPR = "md5(concat(doc_id, '/', media_ref))"
_H16_EXPR = f"CAST(conv(substr({_SEED_EXPR}, 1, 4), 16, 10) AS INT)"


def _figure_refs(docs: DataFrame) -> DataFrame:
    """(doc_id, media_ref, n_bytes) for every figure span — the shared
    derivation head of ``media_table`` and the fused ``media_features``
    (identical n_bytes arithmetic by construction).

    The media_ref array is projected OUT of the span structs before the
    explode: exploding the full struct defeats nested-schema pruning, so the
    scan would decode every span's text column (the bulk of the table) just
    to read the refs (verified in the plan: ReadSchema carried the full
    struct).  Element order — and therefore the exploded row sequence — is
    unchanged."""
    return (
        docs.select(
            "doc_id",
            F.explode(F.col("spans").getField("media_ref")).alias(
                "media_ref"
            ),
        )
        .filter(F.col("media_ref").isNotNull())
        .withColumn("n_bytes", F.expr(f"64 + ({_H16_EXPR} % 4096)"))
    )


def media_table(docs: DataFrame) -> DataFrame:
    """Derive the media table from figure spans of the interleaved input.

    Pseudo-payload: md5-stream bytes seeded by (doc_id, media_ref);
    deterministic sizes/dimensions derived from the same hash (SQL-
    reproducible: length = 64 + hash16 % 4096).
    """
    figs = _figure_refs(docs)
    figs = figs.withColumn(
        "width", F.expr(f"32 + ({_H16_EXPR} % 993)")
    ).withColumn("height", F.expr(f"32 + (CAST(conv(substr({_SEED_EXPR}, 5, 4), 16, 10) AS INT) % 993)"))

    def gen_bytes(batches):
        # mapInArrow: the binary payload column is assembled once as an
        # Arrow array instead of a pandas object column (pandas adds a
        # per-cell Python-object hop on both the build and serialize side)
        import pyarrow as pa

        md5 = hashlib.md5
        for batch in batches:
            cols = {n: batch.column(i) for i, n in enumerate(batch.schema.names)}
            doc_ids = cols["doc_id"].to_pylist()
            refs = cols["media_ref"].to_pylist()
            sizes = cols["n_bytes"].to_pylist()
            contents = []
            for doc_id, ref, n in zip(doc_ids, refs, sizes):
                digest = md5(f"{doc_id}/{ref}".encode()).digest()
                contents.append((digest * (n // 16 + 1))[:n])
            yield pa.RecordBatch.from_arrays(
                [
                    cols["doc_id"],
                    cols["media_ref"],
                    pa.array(contents, type=pa.binary()),
                    pa.array(["png"] * len(contents), type=pa.string()),
                    cols["width"].cast(pa.int32()),
                    cols["height"].cast(pa.int32()),
                ],
                names=[f.name for f in MEDIA_SCHEMA.fields],
            )

    return figs.mapInArrow(gen_bytes, schema=MEDIA_SCHEMA)


def _surrogate_features(content: bytes) -> dict:
    """The default ``extract_features`` decoder: payload length, mean byte
    value and the first 16 hex chars of the payload's md5."""
    n = len(content)
    return {
        "n_bytes": n,
        "byte_mean": round(sum(content) / n, 6) if n else 0.0,
        "phash": hashlib.md5(content).hexdigest()[:16],
    }


def extract_features(media: DataFrame, decoder=None) -> DataFrame:
    """Arrow-batched feature extraction over the binary column.

    ``decoder`` is the injection point for the production path: a picklable
    ``Callable[[bytes], dict]`` returning {n_bytes, byte_mean, phash}
    (e.g. PIL decode + perceptual hash; default: the byte-level surrogate).
    A NULL content reads as ``b""``.  Heavy models should lazy-load behind
    a module-level cache inside the callable (the per-executor load
    pattern, reference inference.py:26-27).
    """
    decode = decoder or _surrogate_features

    def features(rows):
        out = []
        for doc_id, ref, content in rows:
            f = decode(content or b"")
            out.append((doc_id, ref, f["n_bytes"], f["byte_mean"], f["phash"]))
        return out

    return map_rows(
        media.select("doc_id", "media_ref", "content"), features,
        FEATURE_SCHEMA,
    )


def media_features(docs: DataFrame) -> DataFrame:
    """``extract_features(media_table(docs))`` fused into ONE Python stage.

    Row-identical to the unfused composition (pinned by test): the
    pseudo-payload is generated AND featurized inside the same mapInArrow,
    so the ~KB-per-row binary column never crosses the Python↔JVM boundary
    at all — the unfused pair serializes every payload out of the generator
    stage and back into the feature stage (guide §8: when only features of
    heavy bytes leave a stage, move the bytes zero times).  Feature math is
    byte-exact: n_bytes is the generated length; the byte sum telescopes
    over whole 16-byte digest repeats (exact integer arithmetic, same
    ``round``); phash is the same md5 over the materialized payload.

    ``media_table`` / ``extract_features`` remain the public operators for
    pipelines that materialize or re-consume the media table itself.

    Even ``n_bytes`` is derived Python-side from the SAME seed digest the
    payload generator already computes (``h16 = int(digest[:2])`` ≡
    ``conv(substr(md5(seed),1,4),16,10)`` — the first four hex chars ARE the
    first two bytes), so the JVM side ships only (doc_id, media_ref) and
    evaluates no per-row md5/conv expression at all.
    """
    # project the ref array out of the structs BEFORE exploding — the full-
    # struct explode defeats nested-schema pruning and decodes every span
    # text at the scan (see _figure_refs)
    figs = (
        docs.select(
            "doc_id",
            F.explode(F.col("spans").getField("media_ref")).alias(
                "media_ref"
            ),
        )
        .filter(F.col("media_ref").isNotNull())
    )

    def gen_features(batches):
        import pyarrow as pa

        md5 = hashlib.md5
        for batch in batches:
            if batch.num_rows == 0:
                continue
            doc_ids = batch.column(0)
            refs = batch.column(1)
            sizes = []
            means = []
            phashes = []
            for doc_id, ref in zip(doc_ids.to_pylist(), refs.to_pylist()):
                digest = md5(f"{doc_id}/{ref}".encode()).digest()
                n = 64 + (int.from_bytes(digest[:2], "big") % 4096)
                content = (digest * (n // 16 + 1))[:n]
                q, r = divmod(n, 16)
                s = q * sum(digest) + sum(digest[:r])
                sizes.append(n)
                means.append(round(s / n, 6) if n else 0.0)
                phashes.append(md5(content).hexdigest()[:16])
            yield pa.RecordBatch.from_arrays(
                [
                    doc_ids,
                    refs,
                    pa.array(sizes, type=pa.int64()),
                    pa.array(means, type=pa.float64()),
                    pa.array(phashes, type=pa.string()),
                ],
                names=[f.name for f in FEATURE_SCHEMA.fields],
            )

    return figs.mapInArrow(gen_features, schema=FEATURE_SCHEMA)


RESIZED_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("media_ref", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("out_width", IntegerType()),
        StructField("out_height", IntegerType()),
        StructField("content", BinaryType()),
    ]
)


def resize_media(
    media: DataFrame, max_dim: int = 256, resampler=None
) -> DataFrame:
    """Aspect-preserving resize to fit ``max_dim``, one ``map_rows`` pass.

    The output *dimensions* are integer arithmetic on the metadata and are
    fully real (new_w = w·max_dim // max(w, h) when the image exceeds
    max_dim).  ``resampler`` injects the pixel backend: a picklable
    ``Callable[[bytes, int, int], bytes]`` → (content, out_w, out_h) →
    resized bytes (e.g. PIL ``Image.resize``); without one the content
    passes through unchanged.  A NULL width or height gives NULL output
    dimensions and passes the content through.
    """

    def resize(rows):
        out = []
        for doc_id, ref, content, w, h in rows:
            out_w = out_h = None
            if w is not None and h is not None:
                longest = max(w, h)
                out_w, out_h = w, h
                if longest > max_dim:
                    out_w = w * max_dim // longest
                    out_h = h * max_dim // longest
                if resampler is not None:
                    content = resampler(content or b"", out_w, out_h)
            out.append((doc_id, ref, w, h, out_w, out_h, content))
        return out

    return map_rows(
        media.select("doc_id", "media_ref", "content", "width", "height"),
        resize,
        RESIZED_SCHEMA,
    )


FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("media_ref", StringType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_bytes", BinaryType()),
        StructField("frame_sig", StringType()),
    ]
)


def _stride_frames(content: bytes, max_frames: int, frame_len: int) -> list:
    """The default ``frame_sample`` decoder: the content read as a raw
    frame stream, frame i is bytes [i·frame_len, (i+1)·frame_len), and
    there is always at least one (possibly empty) frame."""
    n_frames = min(max_frames, max(1, len(content) // frame_len))
    return [
        content[i * frame_len:(i + 1) * frame_len] for i in range(n_frames)
    ]


def frame_sample(
    media: DataFrame,
    frame_len: int = 256,
    max_frames: int = 4,
    frame_decoder=None,
) -> DataFrame:
    """Sample up to ``max_frames`` frames per media item.

    ``frame_decoder`` injects the demux/decode backend: a picklable
    ``Callable[[bytes, int], list[bytes]]`` → (content, max_frames) → frame
    byte strings (e.g. ffmpeg keyframe extraction); ``frame_sig`` is always
    the lowercase hex of the first 8 frame bytes.  The default decoder
    slices fixed ``frame_len`` strides — byte-identical to the SQL oracle,
    so the oracle pins that the Arrow byte handling (slicing, binary
    round-trip) is exact, not just row counts.  A NULL content reads as
    ``b""`` (one empty frame).
    """
    decode = frame_decoder or functools.partial(
        _stride_frames, frame_len=frame_len
    )

    def frames(rows):
        return [
            (doc_id, ref, i, fb, fb[:8].hex())
            for doc_id, ref, content in rows
            # defensive slice: the documented contract is "up to
            # max_frames" regardless of what the injected backend returns
            for i, fb in enumerate(
                decode(content or b"", max_frames)[:max_frames]
            )
        ]

    return map_rows(
        media.select("doc_id", "media_ref", "content"), frames, FRAME_SCHEMA
    )
