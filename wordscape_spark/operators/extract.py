"""The extraction operator — classified ordered span sequences per document.

Execution strategy (designed for 10^12-row scale):

* The input table has one row per document, so the normal path is a pure
  ``mapInArrow`` kernel — **zero shuffle**: each Arrow batch of documents is
  decoded column-wise and classified independently.  (The reference's
  per-document two-pass heuristic would force a ``groupBy(doc_id)`` only if
  spans arrived exploded.)
* Skewed mega-documents (more than ``cfg.salt_threshold`` spans) would
  stall a task the way one huge doc stalls a reference worker (SURVEY
  §4.1).  They take the *salted path*: a ``mapInArrow`` task chunks each
  mega-doc at element boundaries and builds the doc's font-heuristic state
  (``FontHeuristics.from_pars`` over the chunks' body paragraphs), which
  rides on every chunk row as typed columns; a ``repartition`` over
  (doc_id, chunk_idx) spreads the chunks over the cluster (the salt); a
  second ``mapInArrow`` classifies chunks in parallel into the kernel's
  classified parts, and a grouped ``applyInArrow`` hands a doc's parts in
  chunk order to ``merge_parts``, the kernel's own document assembly (the
  whole-document kernel is the case of one part).  Every Python stage
  decodes spans with the same flat-child Arrow decode, and both paths build
  their output rows with the one ``_record_batch`` builder.  Results are
  bit-identical to the single-pass path (tested).
* Oversized documents (more than ``cfg.max_doc_spans`` spans) are rejected
  inside the Python pass that first sees them — the kernel
  (``classify_document``) or the chunk UDF — before any classification
  work, so the gate costs no extra scan of the input.
"""

from __future__ import annotations

from itertools import accumulate

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from wordscape_spark.config import DEFAULT_CONFIG, ExtractConfig
from wordscape_spark.core import classify as C
from wordscape_spark.sources.ingest import rows_batch

SPAN_TYPE = StructType(
    [
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
    ]
)

# classified output spans additionally carry the 1-based page number
# (page model, orm/models.py:132-187); the span-equality surface is still
# (kind, text, media_ref, offset)
OUT_SPAN_TYPE = StructType(
    [
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
        StructField("page", IntegerType()),
    ]
)

PAGE_TYPE = StructType(
    [
        StructField("page", IntegerType()),
        StructField("text", StringType()),
        StructField("counts", MapType(StringType(), LongType())),
    ]
)

INPUT_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("spans", ArrayType(SPAN_TYPE)),
    ]
)

EXTRACTED_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("ok", BooleanType()),
        StructField("reject_reason", StringType()),
        StructField("spans", ArrayType(OUT_SPAN_TYPE)),
        StructField("pages", ArrayType(PAGE_TYPE)),
        StructField("text", StringType()),
        StructField("counts", MapType(StringType(), LongType())),
        StructField("quality", DoubleType()),
        StructField("builtin_props", MapType(StringType(), DoubleType())),
        StructField("props", MapType(StringType(), StringType())),
        StructField("lang_tags", ArrayType(StringType())),
        StructField("num_words", LongType()),
        StructField("num_chars", LongType()),
        StructField("num_alph_chars", LongType()),
        StructField("num_numeric_chars", LongType()),
        StructField("num_alphnum_chars", LongType()),
        StructField("alnum_prop", DoubleType()),
        StructField("alph_to_num_ratio", DoubleType()),
    ]
)

# the span-equality surface alone (the north-star per-row invariant):
# skips doc text, page records, entity-count/props maps and text metrics —
# the return-leg Arrow→JVM conversion of those columns is the single
# largest cost of the full row at scale (they roughly triple the output
# string volume: doc text + per-page text duplicate every span text)
EXTRACTED_SLIM_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("ok", BooleanType()),
        StructField("reject_reason", StringType()),
        StructField("spans", ArrayType(OUT_SPAN_TYPE)),
    ]
)


# the salted path's intermediate rows.  A chunk row carries the whole doc's
# font-heuristic state (FontHeuristics' additive accumulators); a doc that
# cannot be chunked is one marker row (chunk_idx -1, reject_reason set).
_CHUNK_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("chunk_idx", IntegerType()),
        StructField("spans", ArrayType(SPAN_TYPE)),
        StructField("font_counts", MapType(StringType(), LongType())),
        StructField("font_apps", MapType(StringType(), LongType())),
        StructField("font_tracker", ArrayType(StructType([
            StructField("fp", StringType()),
            StructField("level", IntegerType()),
        ]))),
        StructField("reject_reason", StringType()),
    ]
)

# a chunk's classified part: ``C.Part``'s fields in order, pages chunk-local
_PARTIAL_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("chunk_idx", IntegerType()),
        StructField("reject_reason", StringType()),
        StructField("spans", ArrayType(StructType(SPAN_TYPE.fields[:3]))),
        StructField("span_pages", ArrayType(IntegerType())),
        StructField("pages", ArrayType(PAGE_TYPE)),
        StructField("counts", MapType(StringType(), LongType())),
        # builtin / heuristic char mass per entity id
        StructField(
            "char_counter", MapType(IntegerType(), ArrayType(DoubleType()))
        ),
        StructField("props", MapType(StringType(), StringType())),
        StructField("lang_tags", ArrayType(StringType())),
    ]
)


def _struct_rows(list_col, fields=("kind", "text", "media_ref", "offset")):
    """Decode a list<struct> Arrow column: per row, the list of ``fields``
    tuples, or None for a NULL list.

    Flat-child decode: one to_pylist per LEAF column instead of
    materializing a dict per span (nested to_pylist) — measured 16% faster
    end-to-end on the sf0.8 mix, and the classifier consumes tuples
    directly with no dict hop.  flatten() skips the child segments behind
    NULL lists, so per-row bounds come from the list lengths with NULL
    counted as 0.  Field access is BY NAME: a conforming table whose struct
    children are ordered differently (read_docs normalizes, but callers
    can hand extract() any DataFrame) must not be silently decoded in the
    wrong order."""
    import pyarrow.compute as pc

    valid = list_col.is_valid().to_pylist()
    lengths = pc.list_value_length(list_col).fill_null(0).to_pylist()
    flat = list_col.flatten()
    leaves = [
        _kinds(flat.field(name)) if name == "kind"
        else flat.field(name).to_pylist()
        for name in fields
    ]
    hi = 0
    for is_valid, n in zip(valid, lengths):
        lo, hi = hi, hi + n
        yield list(zip(*(leaf[lo:hi] for leaf in leaves))) if is_valid else None


def _kinds(arr) -> list:
    """The kind leaf, dictionary-decoded: kind strings repeat heavily (~6×
    at the corpus mix), so each distinct kind materializes ONE Python
    string (fewer allocations, and the shared objects make the parse-cache
    dict lookups identity-fast).  A NULL kind (malformed producer) keeps
    the plain decode so it still fails per-document inside the
    classifier."""
    if arr.null_count:
        return arr.to_pylist()
    enc = arr.dictionary_encode()
    uniq = enc.dictionary.to_pylist()
    return [uniq[i] for i in enc.indices.to_numpy(zero_copy_only=False).tolist()]


def _record_batch(results, arrow_schema):
    """Column-wise Arrow assembly of (doc_id, DocResult) pairs into either
    output surface, chosen by ``arrow_schema``: the slim schema ends after
    the span columns, the full one goes on with doc text, pages, maps and
    the D10 text metrics.  The one output builder of both the small path
    (one call per Arrow batch) and the salted merge (one call per mega-doc).

    The D10 metrics are computed here, inside the classification UDF: they
    parallelize with classification at zero extra Arrow traffic, in one
    vectorized ``text_metrics_batch`` pass per batch instead of per-doc
    regex work.  (A native column-expression variant was measured slower
    end-to-end — JVM string passes over multi-MB mega-doc texts straggle;
    see operators/text.py metrics_exprs for the SQL-side twin used by the
    oracle.)

    Byte-identical to ``RecordBatch.from_pylist`` over one dict per row
    (map entry order = dict insertion order; pinned by test) without
    materializing a dict per row and per span — from_pylist re-hashes every
    field name for every span."""
    import pyarrow as pa

    S = pa.string()
    I32 = pa.int32()
    I64 = pa.int64()
    F64 = pa.float64()
    doc_ids = []
    oks = []
    rejects = []
    sk: list = []
    st: list = []
    sm: list = []
    so: list = []
    sp: list = []
    soff = [0]
    stot = 0
    for d, r in results:
        doc_ids.append(d)
        oks.append(r.ok)
        rejects.append(r.reject_reason)
        spans = r.spans
        if spans:
            ks, ts, ms, os_ = zip(*spans)
            sk.extend(ks)
            st.extend(ts)
            sm.extend(ms)
            so.extend(os_)
            sp.extend(r.span_pages)
            stot += len(spans)
        soff.append(stot)
    columns = [
        pa.array(doc_ids, S),
        pa.array(oks, pa.bool_()),
        pa.array(rejects, S),
        pa.ListArray.from_arrays(
            pa.array(soff, I32),
            pa.StructArray.from_arrays(
                [pa.array(sk, S), pa.array(st, S), pa.array(sm, S),
                 pa.array(so, I32), pa.array(sp, I32)],
                names=["kind", "text", "media_ref", "offset", "page"],
            ),
        ),
    ]
    if len(arrow_schema) == len(columns):  # the slim span surface
        return pa.RecordBatch.from_arrays(columns, schema=arrow_schema)

    docs = [r for _, r in results]
    metrics = C.text_metrics_batch([r.text if r.ok else "" for r in docs])
    page_recs = [pg for r in docs for pg in r.pages]
    columns += [
        pa.ListArray.from_arrays(
            pa.array(list(accumulate((len(r.pages) for r in docs), initial=0)),
                     I32),
            pa.StructArray.from_arrays(
                [pa.array([p for p, _, _ in page_recs], I32),
                 pa.array([t for _, t, _ in page_recs], S),
                 _map_array([c for _, _, c in page_recs], I64)],
                names=["page", "text", "counts"],
            ),
        ),
        pa.array([r.text for r in docs], S),
        _map_array([r.counts for r in docs], I64),
        pa.array([r.quality for r in docs], F64),
        _map_array([r.builtin_props for r in docs], F64),
        _map_array([r.props for r in docs], S),
        pa.ListArray.from_arrays(
            pa.array(
                list(accumulate((len(r.lang_tags) for r in docs), initial=0)),
                I32,
            ),
            pa.array([t for r in docs for t in r.lang_tags], S),
        ),
    ]
    # the remaining fields are the D10 text metrics, named like their keys
    columns += [
        pa.array([m[f.name] for m in metrics], f.type)
        for f in list(arrow_schema)[len(columns):]
    ]
    return pa.RecordBatch.from_arrays(columns, schema=arrow_schema)


def _map_array(dicts, value_type):
    """One Arrow map column from per-row dicts, entries in dict order."""
    import pyarrow as pa

    offsets = [0]
    keys: list = []
    values: list = []
    for d in dicts:
        keys.extend(d)
        values.extend(d.values())
        offsets.append(len(keys))
    return pa.MapArray.from_arrays(
        pa.array(offsets, pa.int32()),
        pa.array(keys, pa.string()),
        pa.array(values, value_type),
    )


def _make_classify_arrow_fn(
    cfg: ExtractConfig, out_schema: StructType = EXTRACTED_SCHEMA
):
    """mapInArrow variant of the classifier — the hot path.

    Skips the Arrow↔pandas round-trip entirely: the nested spans column is
    decoded one leaf column at a time and results are rebuilt as a
    RecordBatch with an explicit schema (no pandas object-column
    inference).  Measured ~2× end-to-end extraction throughput vs
    mapInPandas on this schema — pandas materializes every nested struct as
    object arrays of dicts twice (in and out).

    ``out_schema`` selects the output surface: the full EXTRACTED_SCHEMA row
    (default) or the slim span-surface row (``extract_slim``)."""

    def classify_batches(batches):
        arrow_schema = to_arrow_schema(out_schema)
        for batch in batches:
            results = [
                (doc_id, _safe_classify_tuples(spans, cfg))
                for doc_id, spans in zip(
                    batch.column(0).to_pylist(), _struct_rows(batch.column(1))
                )
            ]
            if results:
                yield _record_batch(results, arrow_schema)

    return classify_batches


def _safe_classify_tuples(
    tuples: list[tuple] | None, cfg: ExtractConfig
) -> C.DocResult:
    """Per-document fault isolation: a malformed document becomes a reject
    row instead of failing the task (the reference's failed_*.jsonl model,
    annotator_process.py:199-282 — at 10^12 rows one bad doc must never
    kill a job).  Takes pre-built (kind, text, media_ref, offset) tuples
    (the flat-child Arrow decode path), or None for a NULL spans array."""
    if tuples is None:
        return C.DocResult(False, "null_spans", [], "", {}, 0.0, {})
    try:
        return C.classify_document(tuples, cfg)
    except Exception as exc:  # noqa: BLE001 — intentional isolation boundary
        return C.DocResult(
            False, f"error:{type(exc).__name__}", [], "", {}, 0.0, {}
        )


# ---------------------------------------------------------------------------
# salted mega-document path
# ---------------------------------------------------------------------------


def _element_key(kind: str) -> tuple:
    tag, _, rest = kind.partition(";")
    if tag in ("r", "hp", "fp", "xp"):
        p = ""
        for field in rest.split(";"):
            if field.startswith("p="):
                p = field[2:]
                break
        return (tag, p)
    if tag == "tc":
        t = ""
        for field in rest.split(";"):
            if field.startswith("t="):
                t = field[2:]
                break
        return (tag, t)
    return (tag, object())  # sdt / fig: every span its own element


def _chunk_spans(spans: list[tuple], target: int) -> list[list[tuple]]:
    """Split ordered spans into chunks, never crossing an element boundary."""
    ordered = sorted(spans, key=lambda s: s[3])
    chunks: list[list[tuple]] = []
    cur: list[tuple] = []
    cur_key: tuple | None = None
    for span in ordered:
        key = _element_key(span[0])
        if len(cur) >= target and key != cur_key:
            chunks.append(cur)
            cur = []
        cur.append(span)
        cur_key = key
    if cur:
        chunks.append(cur)
    return chunks


def _make_chunk_fn(cfg: ExtractConfig):
    """Split each mega-doc into chunks and put the whole doc's font state on
    every chunk row.  A doc that cannot be chunked becomes one marker row
    (``chunk_idx`` -1, ``reject_reason`` set), resolved at the merge."""
    arrow_schema = to_arrow_schema(_CHUNK_SCHEMA)

    def chunk_batches(batches):
        for batch in batches:
            rows = []
            for doc_id, spans in zip(
                batch.column(0).to_pylist(), _struct_rows(batch.column(1))
            ):
                reason = None
                if spans is None:
                    # NULL spans behind a maintained n_spans: same reject
                    # as the small path
                    reason = "null_spans"
                elif len(spans) > cfg.max_doc_spans:
                    # oversized-doc gate (B1/C1 analog): reject without
                    # classifying
                    reason = "too_many_spans"
                else:
                    try:
                        chunks = _chunk_spans(spans, cfg.salt_chunk_spans)
                        h = C.FontHeuristics.from_pars(
                            [el for chunk in chunks
                             for el in C.parse_elements(chunk)
                             if isinstance(el, C.BodyPar)],
                            cfg,
                        )
                    except Exception as exc:  # noqa: BLE001 — fault isolation
                        reason = f"error:{type(exc).__name__}"
                if reason is not None:
                    rows.append((doc_id, -1, [], {}, {}, [], reason))
                    continue
                rows.extend(
                    (doc_id, idx, chunk, h.font_size_count,
                     h.font_size_appearances, h.builtin_heading_tracker, None)
                    for idx, chunk in enumerate(chunks)
                )
            if rows:
                yield rows_batch(rows, arrow_schema)

    return chunk_batches


def _make_chunk_classify_fn(cfg: ExtractConfig):
    """Classify each chunk row into its ``C.Part`` with the heuristics
    built from the row's font state; a fault becomes the row's reject."""
    arrow_schema = to_arrow_schema(_PARTIAL_SCHEMA)
    no_part = ([], [], [], {}, {}, {}, [])

    def classify_chunks(batches):
        for batch in batches:
            rows = []
            for doc_id, chunk_idx, reason, spans, fc, fa, tracker in zip(
                batch.column("doc_id").to_pylist(),
                batch.column("chunk_idx").to_pylist(),
                batch.column("reject_reason").to_pylist(),
                _struct_rows(batch.column("spans")),
                batch.column("font_counts").to_pylist(),
                batch.column("font_apps").to_pylist(),
                _struct_rows(batch.column("font_tracker"), ("fp", "level")),
            ):
                part = no_part
                if reason is None:
                    try:
                        h = C.FontHeuristics.from_state(
                            cfg, dict(fc), dict(fa), tracker
                        )
                        part = C.classify_elements(C.parse_elements(spans), h)
                    except Exception as exc:  # noqa: BLE001 — fault isolation
                        reason = f"error:{type(exc).__name__}"
                rows.append((doc_id, chunk_idx, reason, *part))
            if rows:
                yield rows_batch(rows, arrow_schema)

    return classify_chunks


def _make_merge_partials_fn(cfg: ExtractConfig, out_schema: StructType):
    """The grouped ``applyInArrow`` merge of one mega-doc's chunk results
    into one ``C.DocResult``, which ``_record_batch`` turns into an
    ``out_schema`` row (full or slim: the merge logic is identical, only the
    returned row, and therefore the Arrow return-leg volume, differs)."""

    def merge_partials(key, table):
        import pyarrow as pa

        [batch] = table.sort_by("chunk_idx").combine_chunks().to_batches()
        res = _merged_result(batch, cfg)
        return pa.Table.from_batches(
            [_record_batch([(key[0].as_py(), res)], to_arrow_schema(out_schema))]
        )

    return merge_partials


def _merged_result(batch, cfg: ExtractConfig) -> C.DocResult:
    """One mega-doc's DocResult from its ``_PARTIAL_SCHEMA`` rows in chunk
    order: the first reject rejects the doc, otherwise the decoded parts go
    to ``C.merge_parts``."""
    for reason in batch.column("reject_reason").to_pylist():
        if reason is not None:
            return C.DocResult(False, reason, [], "", {}, 0.0, {})
    spans = _struct_rows(batch.column("spans"), ("kind", "text", "media_ref"))
    pages = _struct_rows(batch.column("pages"), ("page", "text", "counts"))
    span_pages, counts, counters, props, tags = (
        batch.column(name).to_pylist() for name in
        ("span_pages", "counts", "char_counter", "props", "lang_tags")
    )
    parts = [
        (s, sp, [(p, t, dict(c)) for p, t, c in pg], dict(n), dict(cc),
         dict(pr), tg)
        for s, sp, pg, n, cc, pr, tg in zip(
            spans, span_pages, pages, counts, counters, props, tags
        )
    ]
    return C.merge_parts(parts, cfg)


# ---------------------------------------------------------------------------
# public API
# ---------------------------------------------------------------------------


def extract(docs: DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG) -> DataFrame:
    """Classify every document; returns the EXTRACTED_SCHEMA DataFrame.

    ``docs`` must have (doc_id string, spans array<struct<kind,text,
    media_ref,offset>>).
    """
    return _extract(docs, cfg, EXTRACTED_SCHEMA)


def extract_slim(
    docs: DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Classify every document, emitting ONLY the span-equality surface
    (EXTRACTED_SLIM_SCHEMA) — for pipelines that consume classified spans
    without the metadata columns.  Catalyst cannot prune columns through an
    opaque mapInArrow, so a caller that wants only spans must choose the
    slim function, not project afterward.  Same classifier, same salted
    mega-doc handling — the salted branch shares the full path's
    chunk/classify/merge pipeline but emits slim rows at the final merge,
    so mega-doc-heavy tables skip the fat return leg too."""
    return _extract(docs, cfg, EXTRACTED_SLIM_SCHEMA)


def _extract(
    docs: DataFrame, cfg: ExtractConfig, out_schema: StructType
) -> DataFrame:
    """Both output surfaces: the small/salted split, then each branch emits
    ``out_schema`` rows."""
    # Exactly TWO scans of the input: the small path and the salted path.
    # The oversized-document gate (too_many_spans, no Python classification)
    # is folded into the chunk UDF as a reject marker so it does not cost a
    # third scan.
    #
    # The split predicate prefers the MAINTAINED ``n_spans`` column (the
    # Iceberg-size-metadata analog, written by the table producer): a plain
    # column comparison pushes down to the parquet scan, so the mega-doc
    # branch is answered from row-group min/max statistics — it reads only
    # the handful of groups that can contain a mega-doc instead of decoding
    # the whole multi-GB spans column a second time (evidence:
    # BENCH/PRUNING.md).  Tables without the column fall back to
    # ``size(spans)``, which both branches must compute post-scan.
    #
    # A NULL size satisfies neither predicate: NULL n_spans (imperfect
    # producer metadata), or size(NULL), which is NULL (not -1) since Spark
    # 3.0.  Route it down the small path so no row is silently dropped (the
    # kernel rejects a NULL spans array per-doc); IsNotNull on the big
    # branch still pushes down.
    if "n_spans" in docs.columns:
        n_spans = F.col("n_spans")
    else:
        n_spans = F.size("spans")
    small = docs.filter(
        (n_spans <= F.lit(cfg.salt_threshold)) | n_spans.isNull()
    )
    big = docs.filter(n_spans > F.lit(cfg.salt_threshold))

    # (A heavy-first two-branch scan — union the >8k-span docs first so
    # their tasks start in wave 1 — was A/B-measured at pinned 16 cores and
    # showed no gain over the plain scan: 256 splits / 16 waves already
    # absorb the ~110k-span stragglers.  Kept out to avoid an extra scan.)
    small_out = small.select("doc_id", "spans").mapInArrow(
        _make_classify_arrow_fn(cfg, out_schema), schema=out_schema
    )
    return small_out.unionByName(_extract_salted(big, cfg, out_schema))


def _extract_salted(
    big: DataFrame,
    cfg: ExtractConfig,
    out_schema: StructType = EXTRACTED_SCHEMA,
) -> DataFrame:
    """The salted mega-doc path: ``mapInArrow`` chunk → salt shuffle →
    ``mapInArrow`` classify → grouped ``applyInArrow`` merge, three Python
    stages and two shuffles.

    The chunk task holds the whole doc, so it builds the doc's font state
    (``FontHeuristics.from_pars`` over the chunks' body paragraphs) and puts
    it on every chunk row as typed columns (``map<string,bigint>`` counts and appearances, an
    ``array<struct<fp,level>>`` heading tracker): no per-chunk states to
    merge, no join back to the chunks, and no persist of a frame read
    twice.  A doc's fault travels as a nullable ``reject_reason`` column to
    the merge.  The salt shuffle is sized to ``defaultParallelism``: a
    count-less ``repartition`` is coalesced by AQE into one task for a few
    small chunk rows (the whole point of salting lost), a fixed count
    leaves tasks empty on small clusters, and one task per core spreads a
    doc's chunks over the cluster.  The merge groups by mega-doc id only
    (few), so the shuffles touch a tiny fraction of the data.

    ``out_schema`` chooses the output surface (full vs slim) at the final
    merge, so slim consumers never pay the fat Arrow return leg even for
    mega-docs."""
    classified = (
        big.select("doc_id", "spans")
        .mapInArrow(_make_chunk_fn(cfg), schema=_CHUNK_SCHEMA)
        # spread one doc's chunks across the cluster — this IS the salt
        .repartition(
            big.sparkSession.sparkContext.defaultParallelism,
            "doc_id", "chunk_idx",
        )
        .mapInArrow(_make_chunk_classify_fn(cfg), schema=_PARTIAL_SCHEMA)
    )
    return classified.groupBy("doc_id").applyInArrow(
        _make_merge_partials_fn(cfg, out_schema), schema=out_schema
    )


def spans_out(extracted: DataFrame) -> DataFrame:
    """The classified interleaved output table (the span-equality surface)."""
    return extracted.filter("ok").select("doc_id", "spans")


def doc_meta(extracted: DataFrame) -> DataFrame:
    return extracted.filter("ok").select(
        "doc_id",
        "text",
        "counts",
        "quality",
        "builtin_props",
        "pages",
        "props",
        "lang_tags",
        "num_words",
        "num_chars",
        "num_alph_chars",
        "num_numeric_chars",
        "num_alphnum_chars",
        "alnum_prop",
        "alph_to_num_ratio",
    )


def doc_meta_wide(extracted: DataFrame) -> DataFrame:
    """The reference's ORM-shaped metadata row: one ``num_<entity>`` column
    per taxonomy category (DocMetadataRecordDB, orm/models.py:49-129) plus
    quality + text metrics — materialized from the counts map with native
    element_at (no explode/pivot shuffle)."""
    from wordscape_spark import taxonomy as tax

    out = extracted.filter("ok")
    for name in tax.ENTITY_NAMES:
        out = out.withColumn(
            f"num_{name}",
            F.coalesce(F.element_at("counts", name), F.lit(0)).cast("long"),
        )
    return out.drop("spans", "pages", "counts", "builtin_props", "props",
                    "lang_tags", "text", "ok", "reject_reason")


def page_meta(extracted: DataFrame) -> DataFrame:
    """Per-page records — the PageMetadataRecordDB analog
    (orm/models.py:132-187): one row per physical page with page-level text
    and entity counts.  A plain explode: no shuffle, partitioning inherited
    from the extraction output."""
    return (
        extracted.filter("ok")
        .select("doc_id", F.explode("pages").alias("pg"))
        .select(
            "doc_id",
            F.col("pg.page").alias("page_number"),
            F.col("pg.text").alias("page_text"),
            F.col("pg.counts").alias("page_counts"),
        )
    )


def rejects(extracted: DataFrame) -> DataFrame:
    """Per-document fault isolation — the reference's failed_*.jsonl analog
    (annotator_process.py:769-778) as a side-output table."""
    return extracted.filter(~F.col("ok")).select("doc_id", "reject_reason")
