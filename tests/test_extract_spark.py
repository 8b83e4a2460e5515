"""Span-sequence equality invariant: the distributed pipeline must reproduce
the single-node oracle (`classify_document`) exactly — (kind, text, media_ref,
order) per document — under any partitioning, including the salted
mega-document path."""

import dataclasses

import pytest
import pyspark.sql.functions as F

from wordscape_spark import datagen
from wordscape_spark.config import DEFAULT_CONFIG, ExtractConfig
from wordscape_spark.core import classify as C
from wordscape_spark.operators import extract as X


@pytest.fixture(scope="module")
def docs_path():
    return datagen.ensure_interleaved(0.001)


def _oracle_results(path, cfg):
    import pyarrow.parquet as pq

    table = pq.read_table(path)
    out = {}
    for row in table.to_pylist():
        spans = [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in row["spans"]
        ]
        out[row["doc_id"]] = C.classify_document(spans, cfg)
    return out


def _spark_results(spark, path, cfg):
    docs = spark.read.parquet(path)
    rows = X.extract(docs, cfg).collect()
    return {r["doc_id"]: r for r in rows}


def _assert_equal(spark_rows, oracle, cfg):
    assert set(spark_rows) == set(oracle)
    for doc_id, expected in oracle.items():
        got = spark_rows[doc_id]
        assert got["ok"] == expected.ok, doc_id
        assert got["reject_reason"] == expected.reject_reason, doc_id
        got_spans = [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in got["spans"]
        ]
        assert got_spans == expected.spans, f"span mismatch in {doc_id}"
        assert got["text"] == expected.text, doc_id
        assert dict(got["counts"]) == expected.counts, doc_id
        assert got["quality"] == pytest.approx(expected.quality), doc_id
        # page model: span→page assignment and per-page records must be
        # bit-identical under any path (incl. salted chunk/merge)
        got_pages = [s["page"] for s in got["spans"]]
        assert got_pages == expected.span_pages, f"span pages in {doc_id}"
        got_page_recs = [
            (p["page"], p["text"], dict(p["counts"])) for p in got["pages"]
        ]
        assert got_page_recs == [
            (p, t, dict(c)) for p, t, c in expected.pages
        ], f"page records in {doc_id}"
        assert dict(got["props"]) == expected.props, doc_id
        assert list(got["lang_tags"]) == expected.lang_tags, doc_id


def test_spark_matches_oracle(spark, docs_path):
    oracle = _oracle_results(docs_path, DEFAULT_CONFIG)
    got = _spark_results(spark, docs_path, DEFAULT_CONFIG)
    _assert_equal(got, oracle, DEFAULT_CONFIG)


def test_salted_path_is_exact(spark, docs_path):
    """Force (nearly) every document through the chunked mega-doc path and
    require bit-identical results to the single-pass oracle."""
    cfg = dataclasses.replace(DEFAULT_CONFIG, salt_threshold=20,
                              salt_chunk_spans=8)
    oracle = _oracle_results(docs_path, cfg)
    got = _spark_results(spark, docs_path, cfg)
    _assert_equal(got, oracle, cfg)


def test_partitioning_invariance(spark, docs_path):
    docs = spark.read.parquet(docs_path)
    a = {
        r["doc_id"]: r["text"]
        for r in X.extract(docs.repartition(17), DEFAULT_CONFIG).collect()
    }
    b = {
        r["doc_id"]: r["text"]
        for r in X.extract(docs.coalesce(1), DEFAULT_CONFIG).collect()
    }
    assert a == b


def test_salted_slim_equals_salted_full(spark, docs_path):
    """extract_slim's mega-doc branch emits slim rows at the chunk merge
    (never the fat EXTRACTED_SCHEMA); forcing (nearly) every doc through
    the salted path must still match the full path's span surface
    bit-for-bit (doc_id, ok, reject_reason, spans incl. page)."""
    cfg = dataclasses.replace(DEFAULT_CONFIG, salt_threshold=20,
                              salt_chunk_spans=8)
    docs = spark.read.parquet(docs_path)
    slim = {r["doc_id"]: r for r in X.extract_slim(docs, cfg).collect()}
    full = {r["doc_id"]: r for r in X.extract(docs, cfg).collect()}
    assert set(slim) == set(full)
    for doc_id, f in full.items():
        s = slim[doc_id]
        assert s["ok"] == f["ok"], doc_id
        assert s["reject_reason"] == f["reject_reason"], doc_id
        assert s["spans"] == f["spans"], doc_id
    # and the slim schema stayed slim
    assert set(X.extract_slim(docs, cfg).columns) == {
        "doc_id", "ok", "reject_reason", "spans"
    }


def test_null_spans_doc_rejects_not_vanishes(spark, docs_path):
    """size(NULL) is NULL since Spark 3.0: without the guard, a NULL
    spans array satisfies neither side of the small/salted split and the
    doc silently vanishes.  It must surface as a 'null_spans' reject on
    BOTH the full and slim paths (and with/without a maintained n_spans
    column).  A NULL spans array mid-batch must not shift the flat-child
    decode of its neighbours: ordinary docs before and after it (and a
    batch of NULLs only) classify exactly like the oracle."""
    import pyarrow.parquet as pq

    schema = (
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>"
    )
    base = spark.createDataFrame([("ok_empty", []), ("nullish", None)], schema)

    # content spans only: every datagen doc opens with look-alike meta
    # spans that never reach the output, which would hide a shifted slice
    ordinary = []
    for row in pq.read_table(docs_path).to_pylist():
        spans = [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in row["spans"]
            if not s["kind"].startswith("meta;")
        ]
        if len(spans) >= 3 and C.classify_document(spans, DEFAULT_CONFIG).ok:
            ordinary.append((row["doc_id"], spans))
        if len(ordinary) == 4:
            break
    assert len(ordinary) == 4
    oracle = {
        d: C.classify_document(sp, DEFAULT_CONFIG) for d, sp in ordinary
    }
    # one partition, 5-row Arrow batches: [o0, o1, NULL, o2, o3] then a
    # batch of NULLs only
    nulls = [f"null_{i}" for i in range(5)]
    mixed = spark.createDataFrame(
        ordinary[:2] + [("nullish", None)] + ordinary[2:]
        + [(d, None) for d in nulls],
        schema,
    ).coalesce(1)

    batch_conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(batch_conf)
    spark.conf.set(batch_conf, "5")
    try:
        for raw in (base, mixed):
            with_meta = raw.withColumn("n_spans", F.size("spans"))
            for docs in (raw, with_meta):
                for fn in (X.extract, X.extract_slim):
                    got = {r["doc_id"]: r for r in fn(docs).collect()}
                    assert got["nullish"]["reject_reason"] == "null_spans", (
                        fn.__name__
                    )
                    if raw is base:
                        assert set(got) == {"ok_empty", "nullish"}, (
                            fn.__name__, got
                        )
                        continue
                    assert set(got) == {"nullish", *nulls, *oracle}, (
                        fn.__name__, sorted(got)
                    )
                    for d in nulls:
                        assert got[d]["reject_reason"] == "null_spans", d
                    for d, expected in oracle.items():
                        assert got[d]["ok"], (fn.__name__, d)
                        assert [
                            (s["kind"], s["text"], s["media_ref"],
                             s["offset"])
                            for s in got[d]["spans"]
                        ] == expected.spans, (fn.__name__, d)
    finally:
        spark.conf.set(batch_conf, prev)


def _out_spans_to_rows(spans, span_pages):
    pages = span_pages if len(span_pages) == len(spans) else [1] * len(spans)
    return [
        {"kind": k, "text": t, "media_ref": m, "offset": o, "page": p}
        for (k, t, m, o), p in zip(spans, pages)
    ]


def _pages_to_rows(pages):
    return [
        {"page": p, "text": t, "counts": {k: int(v) for k, v in c.items()}}
        for (p, t, c) in pages
    ]


def _result_row_slim(doc_id, res):
    return {
        "doc_id": doc_id,
        "ok": res.ok,
        "reject_reason": res.reject_reason,
        "spans": _out_spans_to_rows(res.spans, res.span_pages),
    }


def _result_row(doc_id, res, metrics):
    return {
        "doc_id": doc_id,
        "ok": res.ok,
        "reject_reason": res.reject_reason,
        "spans": _out_spans_to_rows(res.spans, res.span_pages),
        "pages": _pages_to_rows(res.pages),
        "text": res.text,
        "counts": {k: int(v) for k, v in res.counts.items()},
        "quality": float(res.quality),
        "builtin_props": res.builtin_props,
        "props": res.props,
        "lang_tags": list(res.lang_tags),
        "num_words": int(metrics["num_words"]),
        "num_chars": int(metrics["num_chars"]),
        "num_alph_chars": int(metrics["num_alph_chars"]),
        "num_numeric_chars": int(metrics["num_numeric_chars"]),
        "num_alphnum_chars": int(metrics["num_alphnum_chars"]),
        "alnum_prop": float(metrics["alnum_prop"]),
        "alph_to_num_ratio": float(metrics["alph_to_num_ratio"]),
    }


def test_colwise_record_batch_matches_from_pylist():
    """The column-wise Arrow builder must be byte-identical to
    RecordBatch.from_pylist over the row dicts — including reject rows,
    empty spans, None media_refs and unicode."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from wordscape_spark import datagen
    from wordscape_spark.config import DEFAULT_CONFIG
    from wordscape_spark.core import classify as C
    from wordscape_spark.operators import extract as X

    import pyarrow.parquet as pq

    path = datagen.ensure_interleaved(0.001)
    pf = pq.ParquetFile(path)
    results = []
    for g in range(pf.num_row_groups):
        b = pf.read_row_group(g, columns=["doc_id", "spans"])
        ids = b.column("doc_id").to_pylist()
        spans = b.column("spans").to_pylist()
        for d, sp in zip(ids, spans):
            tuples = [
                (s["kind"], s["text"], s["media_ref"], s["offset"])
                for s in sp
            ]
            results.append((d, X._safe_classify_tuples(tuples, DEFAULT_CONFIG)))
    # synthetic edge rows: reject (error), empty doc, unicode text
    results.append(("rej", C.DocResult(False, "error:X", [], "", {}, 0.0, {})))
    results.append(
        ("uni", X._safe_classify_tuples(
            [("r;p=0;s=;psz=12.0;pb=-;pi=-;sz=12.0;b=-;i=-;u=0;m=0;n=0",
              "héllo wörld ½" * 20, None, 0)],
            DEFAULT_CONFIG))
    )
    assert any(not r.ok for _, r in results)  # rejects are exercised

    slim_schema = to_arrow_schema(X.EXTRACTED_SLIM_SCHEMA)
    rows_slim = [_result_row_slim(d, r) for d, r in results]
    expect_slim = pa.RecordBatch.from_pylist(rows_slim, schema=slim_schema)
    assert X._record_batch(results, slim_schema).equals(expect_slim)

    full_schema = to_arrow_schema(X.EXTRACTED_SCHEMA)
    metrics = C.text_metrics_batch(
        [r.text if r.ok else "" for _, r in results]
    )
    rows_full = [
        _result_row(d, r, m) for (d, r), m in zip(results, metrics)
    ]
    expect_full = pa.RecordBatch.from_pylist(rows_full, schema=full_schema)
    assert X._record_batch(results, full_schema).equals(expect_full)
