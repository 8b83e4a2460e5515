"""Light operator tests: shaping, maldoc, perplexity, sources/sinks."""

import pyspark.sql.functions as F
import pytest

from wordscape_spark import datagen
from wordscape_spark.operators import maldoc as MD
from wordscape_spark.operators import multimodal as MM
from wordscape_spark.operators import perplexity as P
from wordscape_spark.operators import shaping as SH
from wordscape_spark.sources import tables as SRC


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


def test_remap_and_minimum(spark):
    spans = spark.createDataFrame(
        [("d1", "heading_1"), ("d1", "heading_2"), ("d1", "text"),
         ("d2", "heading_3"), ("d2", "quote")],
        "doc_id string, kind string",
    )
    remapped = SH.remap_kinds(spans)
    kinds = {r["kind"] for r in remapped.collect()}
    assert kinds == {"heading", "text", "quote"}
    kept = SH.class_minimum_filter(remapped, 2)
    assert {r["kind"] for r in kept.collect()} == {"heading"}


def test_deterministic_sample_stable(spark, docs):
    a = sorted(r["doc_id"] for r in SH.deterministic_sample(docs, 40).collect())
    b = sorted(
        r["doc_id"]
        for r in SH.deterministic_sample(docs.repartition(13), 40).collect()
    )
    assert a == b  # partitioning-invariant
    assert 0 < len(a) < docs.count()


def test_maldoc_indicators(spark):
    media = spark.createDataFrame(
        [
            ("d1", "m1", bytearray(b"clean bytes here")),
            ("d2", "m2", bytearray(b"xxVBAxx")),
            ("d3", "m3", bytearray(b"ooENCoo")),
            ("d4", "m4", None),
        ],
        "doc_id string, media_ref string, content binary",
    )
    rows = {r["doc_id"]: r for r in MD.maldoc_check(media).collect()}
    assert not rows["d1"]["malicious"]
    assert rows["d2"]["malicious"] and rows["d2"]["ind_vba"]
    assert rows["d3"]["malicious"] and rows["d3"]["ind_encrypted"]
    # a NULL payload reads as b"": a row with no indicator set
    d4 = rows["d4"].asDict()
    assert not d4.pop("malicious")
    assert not any(v for k, v in d4.items() if k.startswith("ind_"))


def test_perplexity_matches_python(spark, docs):
    sample = docs.limit(20)
    got = {
        r["doc_id"]: r["perplexity"]
        for r in P.with_perplexity(sample).collect()
    }
    for row in sample.collect():
        assert got[row["doc_id"]] == pytest.approx(
            P.score_text(row["text"], row["lang"])
        )
    # sane range: real-language text scores lower than gibberish
    assert P.score_text("the of and to in is was for on", "en") < P.score_text(
        "zqxj wvkp qqqq", "en"
    )


def test_sources_roundtrip(spark):
    docs = SRC.read_docs(spark, datagen.ensure_interleaved(0.001))
    assert docs.count() == 200


def _with_null_payload(spark, media):
    """``media`` plus one row whose ``content`` is NULL."""
    null = spark.createDataFrame(
        [("null-doc", "m0", None, "png", 300, 200)], MM.MEDIA_SCHEMA
    )
    return media.unionByName(null)


def test_media_pipeline_end_to_end(spark):
    docs = SRC.read_docs(spark, datagen.ensure_interleaved(0.001))
    media = MM.media_table(docs)
    feats = MM.extract_features(_with_null_payload(spark, media))
    row = feats.filter("doc_id != 'null-doc'").first()
    assert row["n_bytes"] > 0 and len(row["phash"]) == 16
    null = feats.filter("doc_id = 'null-doc'").collect()
    assert [(r["n_bytes"], r["byte_mean"]) for r in null] == [(0, 0.0)]


def test_media_features_fused_matches_unfused(spark):
    """The fused generator+featurizer stage (media_features) must be
    row-identical to extract_features(media_table(...)) — it is what the
    media_features query now runs."""
    docs = SRC.read_docs(spark, datagen.ensure_interleaved(0.001))
    unfused = sorted(
        map(tuple, MM.extract_features(MM.media_table(docs)).collect())
    )
    fused = sorted(map(tuple, MM.media_features(docs).collect()))
    assert fused == unfused
    assert (
        MM.media_features(docs).schema
        == MM.extract_features(MM.media_table(docs)).schema
    )


def test_media_resize_and_frames(spark):
    docs = SRC.read_docs(spark, datagen.ensure_interleaved(0.001))
    # a NULL dimension: NULL output dimensions, content passed through
    null_dims = spark.createDataFrame(
        [("null-dims", "m0", bytearray(b"\x01\x02"), "png", None, 200)],
        MM.MEDIA_SCHEMA,
    )
    media = (
        _with_null_payload(spark, MM.media_table(docs))
        .unionByName(null_dims)
        .persist()
    )
    resized = MM.resize_media(media, max_dim=256).collect()
    assert [r["content"] for r in resized if r["doc_id"] == "null-doc"] == [None]
    assert [
        (r["out_width"], r["out_height"], bytes(r["content"]))
        for r in resized if r["doc_id"] == "null-dims"
    ] == [(None, None, b"\x01\x02")]
    for r in resized:
        if r["doc_id"] == "null-dims":
            continue
        assert max(r["out_width"], r["out_height"]) <= 256
        if max(r["width"], r["height"]) <= 256:
            assert (r["out_width"], r["out_height"]) == (r["width"], r["height"])
        else:  # exact integer-arithmetic scaling
            longest = max(r["width"], r["height"])
            assert r["out_width"] == (r["width"] * 256) // longest
            assert r["out_height"] == (r["height"] * 256) // longest
    frames = MM.frame_sample(media, frame_len=256, max_frames=4)
    f = frames.first()
    assert f["frame_sig"] == bytes(f["frame_bytes"])[:8].hex()
    import pyspark.sql.functions as F

    counts = (
        frames.groupBy("doc_id", "media_ref")
        .agg(F.countDistinct("frame_idx").alias("n"))
        .collect()
    )
    assert all(1 <= r["n"] <= 4 for r in counts)
    # a NULL payload reads as b"": one empty frame
    null = frames.filter("doc_id = 'null-doc'").collect()
    assert [(r["frame_idx"], bytes(r["frame_bytes"])) for r in null] == [(0, b"")]
    media.unpersist()


def test_scalable_doc_id_equals_window(spark):
    """The range-bucketed doc-id rank must equal one window per source
    bit-for-bit (bucket = ordering-key prefix ⇒ same global order),
    NULL urls and NULL sources included.  Each source gets one NULL-url
    row and gives one row to the NULL source: ties among NULL keys are
    unordered in both forms, so no partition holds two."""
    import pyspark.sql.functions as F
    from pyspark.sql.window import Window

    from wordscape_spark.operators import urls as U

    df = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    ends = df.groupBy("source").agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    ).collect()
    null_url = [r["lo"] for r in ends]
    null_source = [r["hi"] for r in ends]
    df = U.with_url_hash(
        df.withColumn(
            "url",
            F.when(~F.col("doc_id").isin(null_url), F.expr(
                "concat('https://example.com/', source, '/', "
                "CAST(doc_id AS STRING), '.docx')"
            )),
        ).withColumn(
            "source",
            F.when(~F.col("doc_id").isin(null_source), F.col("source")),
        )
    )
    w = Window.partitionBy("source").orderBy("url_hash")
    window = df.withColumn(
        "assigned_doc_id",
        F.concat_ws(
            "-", "source",
            F.lpad(F.row_number().over(w).cast("string"), 9, "0"),
        ),
    )
    a = {
        r["doc_id"]: r["assigned_doc_id"]
        for r in window.select("doc_id", "assigned_doc_id").collect()
    }
    b = {
        r["doc_id"]: r["assigned_doc_id"]
        for r in U.assign_doc_ids(df).select(
            "doc_id", "assigned_doc_id"
        ).collect()
    }
    assert len(a) == df.count()
    assert a == b
    # NULL keys rank first in their source
    assert {b[d] for d in null_url} == {
        f"{r['source']}-000000001" for r in ends
    }


def test_percentile_approx_is_tight(spark):
    """The approx (discrete) thresholds must sit within 1% of the exact
    interpolated percentile at test scale — documents the accuracy of the
    scale-safe gate."""
    import pyspark.sql.functions as F

    from wordscape_spark.operators import filters as FL
    from wordscape_spark.operators import text as T

    df = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    df = df.withColumn("q", F.expr(T.alnum_prop_expr("text", "spark")))
    row = df.groupBy("lang").agg(
        F.expr(FL.percentile_expr("q", 0.5, "spark")).alias("approx"),
        F.expr("percentile(q, 0.5)").alias("exact"),
    ).collect()
    for r in row:
        assert abs(r["approx"] - r["exact"]) <= 0.01 * max(r["exact"], 1e-9)


def test_jaccard_hot_shingle_cap(spark):
    """Cap above every shingle's document frequency == exact output; a cap
    that drops corpus-hot shingles yields a subset with jaccard <= exact
    (lower-bound property of the prefix-filter trick)."""
    import pyspark.sql.functions as F

    from wordscape_spark.operators import dedup as D

    boiler = " shared boilerplate footer common to all documents here"
    rows = [
        ("a", "alpha beta gamma delta epsilon zeta eta theta" + boiler),
        ("b", "alpha beta gamma delta epsilon zeta eta theta" + boiler),
        ("c", "one two three four five six seven eight nine" + boiler),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")

    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(df, threshold=0.1).collect()
    }
    same = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(
            df, threshold=0.1, max_shingle_df=3
        ).collect()
    }
    assert same == exact  # no shingle df exceeds 3

    capped = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(
            df, threshold=0.1, max_shingle_df=2
        ).collect()
    }
    # boilerplate shingles (df=3) dropped: every surviving pair's jaccard is
    # a lower bound of the exact value and no new pairs appear
    assert set(capped) <= set(exact)
    for k, v in capped.items():
        assert v <= exact[k] + 1e-9
    # (a, b) are true near-duplicates through non-hot shingles: still found
    assert ("a", "b") in capped


def test_shard_pack_first_fit(spark):
    from wordscape_spark.operators import shaping as S

    # one stream so the packing order is fully hand-checkable
    rows = [(f"d{i}", 40) for i in range(10)]  # 10 docs x 40 tokens
    df = spark.createDataFrame(rows, "doc_id string, n_tokens long")
    out = {r["doc_id"]: r["shard_id"]
           for r in S.shard_pack(df, shard_tokens=100, n_streams=1).collect()}
    # cum before each doc: 0,40,80,120,... -> shard floor(cum/100):
    # d0:0 d1:0 d2:0 (starts at 80 -> shard 0, overflows into 120) d3:1 ...
    assert out["d0"] == "0-0" and out["d2"] == "0-0"
    assert out["d3"] == "0-1" and out["d4"] == "0-1"
    # every shard's doc count is 2 or 3 (first-fit on uniform 40s)
    from collections import Counter
    sizes = Counter(out.values())
    assert set(sizes.values()) <= {2, 3}


def test_shard_pack_stream_stability(spark):
    """Stream assignment is a pure function of doc_id: repartitioning the
    input must not move any document to a different shard."""
    from wordscape_spark.operators import shaping as S

    rows = [(f"doc-{i:04d}", (i * 7) % 90 + 10) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id string, n_tokens long")
    a = {r["doc_id"]: r["shard_id"]
         for r in S.shard_pack(df).collect()}
    b = {r["doc_id"]: r["shard_id"]
         for r in S.shard_pack(df.repartition(13)).collect()}
    assert a == b
    # streams actually spread (not all docs in one sort partition)
    streams = {s.split("-")[0] for s in a.values()}
    assert len(streams) > 10


def test_shard_pack_plan_never_single_partition(spark):
    """The scale claim: the running-sum window partitions by the md5
    stream — a global-ordered window would show Exchange SinglePartition
    (every row through one sort task)."""
    from wordscape_spark.operators import shaping as S

    df = spark.createDataFrame(
        [("d1", 10), ("d2", 20)], "doc_id string, n_tokens long"
    )
    plan = S.shard_pack(df)._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    assert "hashpartitioning(stream" in plan


def test_shard_pack_custom_id_col(spark):
    """ADVICE r5: stream expr + window referenced the pre-rename id_col —
    any id_col != 'doc_id' raised UNRESOLVED_COLUMN."""
    df = spark.createDataFrame(
        [("a", 10), ("b", 20)], "my_id string, toks long"
    )
    out = SH.shard_pack(
        df, tokens_col="toks", id_col="my_id", shard_tokens=100, n_streams=2
    ).collect()
    assert {r["doc_id"] for r in out} == {"a", "b"}
    # same assignment as the default-named input (pure function of the id)
    df2 = spark.createDataFrame(
        [("a", 10), ("b", 20)], "doc_id string, n_tokens long"
    )
    ref = SH.shard_pack(df2, shard_tokens=100, n_streams=2).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, ref))


def test_shard_pack_derived_streams():
    """n_streams derives from corpus size (the semantic_nlist pattern):
    floor keeps small corpora spread; big corpora add streams so each
    local sort stays ~SHARD_STREAM_TARGET docs."""
    assert SH.shard_pack_streams(300) == SH.SHARD_STREAM_FLOOR
    assert SH.shard_pack_streams(10**6) == SH.SHARD_STREAM_FLOOR
    big = SH.shard_pack_streams(10**9)
    assert big * SH.SHARD_STREAM_TARGET >= 10**9
    assert (big - 1) * SH.SHARD_STREAM_TARGET < 10**9


def test_token_budget_streams(spark):
    """Stream-decomposed token budget: per-stream budget bound holds, the
    window never sorts a whole language in one partition, and n_streams=1
    recovers the exact global-order prefix."""
    rows = [(f"d{i:03d}", "en" if i % 3 else "de", 100) for i in range(120)]
    df = spark.createDataFrame(rows, "doc_id string, lang string, tokens long")

    # n_streams=1: exact old semantics — first budget//tokens docs per lang
    exact = SH.token_budget_sample(df, 1000, n_streams=1).collect()
    per_lang = {}
    for r in exact:
        per_lang.setdefault(r["lang"], []).append(r["doc_id"])
    assert all(len(v) == 10 for v in per_lang.values())
    assert per_lang["de"] == sorted(per_lang["de"])[:10]

    # n_streams=4: total tokens per lang never exceed the budget, and the
    # selection is repartition-stable
    out = SH.token_budget_sample(df, 1000, n_streams=4)
    tot = {r["lang"]: r["t"] for r in
           out.groupBy("lang").agg(F.sum("tokens").alias("t")).collect()}
    assert all(t <= 1000 for t in tot.values())
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(
        r["doc_id"]
        for r in SH.token_budget_sample(
            df.repartition(13), 1000, n_streams=4
        ).collect()
    )
    assert a == b

    plan = (
        SH.token_budget_sample(df, 1000, n_streams=4)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "SinglePartition" not in plan
    assert "hashpartitioning(lang" in plan and "_tb_stream" in plan


def test_url_quality_filter_hand_values(spark):
    from wordscape_spark.operators import urls as U

    rows = [
        ("blocked", "https://casino-winners.example/doc1.docx"),
        ("strict", "https://www.files.example/free-porn-1.docx"),
        ("two_soft", "http://my-site.example/adult/webcam-1.docx"),
        ("one_soft", "https://shop.example/pills-1.docx"),
        ("clean", "https://example.com/clean/1.docx"),
        ("upper", "HTTPS://WWW.SHOP.EXAMPLE/VIAGRA.docx"),
        ("null", None),
    ]
    df = spark.createDataFrame(rows, "k string, url string")
    out = {r["k"]: r.asDict()
           for r in U.url_quality_filter(df).collect()}

    b = out["blocked"]
    assert b["domain"] == "casino-winners.example"
    assert b["blocked_domain"] and not b["url_pass"]
    # 'casino' also word-matches the blocklisted domain itself
    assert b["url_score"] == 1.0

    s = out["strict"]
    assert s["domain"] == "files.example"  # www. stripped
    assert s["url_score"] == 1.0 and not s["url_pass"]

    assert out["two_soft"]["url_score"] == 1.0  # 0.5 + 0.5 = cutoff
    assert not out["two_soft"]["url_pass"]
    assert out["one_soft"]["url_score"] == 0.5
    assert out["one_soft"]["url_pass"]
    assert out["clean"]["url_score"] == 0.0 and out["clean"]["url_pass"]
    # scoring and domain extraction are case-insensitive
    u = out["upper"]
    assert u["domain"] == "shop.example" and u["url_score"] == 1.0
    n = out["null"]
    assert n["domain"] == "" and not n["blocked_domain"] and n["url_pass"]


def test_url_quality_filter_plan_zero_exchange(spark):
    from wordscape_spark.operators import urls as U

    df = spark.createDataFrame([("https://a.example/x",)], "url string")
    plan = (U.url_quality_filter(df)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


# ------------------------------------------------------------- domain cap


def test_domain_cap_bounds_and_determinism(spark):
    from wordscape_spark.operators import urls as U

    rows = [
        (i, f"https://{dom}/p/{i}", dom)
        for i, dom in enumerate(
            ["big.com"] * 40 + ["mid.com"] * 6 + ["tiny.com"]
        )
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, domain string")
    got = U.domain_cap(df, max_per_domain=8, n_streams=4).collect()
    per = {}
    for r in got:
        per.setdefault(r["domain"], set()).add(r["doc_id"])
    # hard upper bound everywhere; small domains pass through whole
    assert len(per["big.com"]) <= 8
    assert len(per["tiny.com"]) == 1
    assert len(per["mid.com"]) <= 6
    # deterministic under repartitioning
    again = U.domain_cap(
        df.repartition(7), max_per_domain=8, n_streams=4
    ).collect()
    assert {(r["domain"], r["doc_id"]) for r in again} == {
        (r["domain"], r["doc_id"]) for r in got
    }


def test_domain_cap_window_partitions_by_stream(spark):
    from wordscape_spark.operators import urls as U

    df = spark.createDataFrame(
        [(1, "u", "d")], "doc_id long, url string, domain string"
    )
    plan = (
        U.domain_cap(df, max_per_domain=8, n_streams=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # every hash Exchange carries the stream key: no whole-domain sort
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "_dc_stream" in line, line


def test_domain_cap_validation(spark):
    from wordscape_spark.operators import urls as U

    df = spark.createDataFrame(
        [(1, "u", "d")], "doc_id long, url string, domain string"
    )
    import pytest as _pt

    with _pt.raises(ValueError):
        U.domain_cap(df, max_per_domain=0)


@pytest.mark.parametrize(
    "module, attr",
    [
        ("datagen", "DATA_DIR"),
        ("datagen", "BASE_DIR"),
        ("golden", "GOLDEN_BASE"),
        ("watgen", "BASE_DIR"),
        ("docxgen", "BASE_DIR"),
        ("odtgen", "BASE_DIR"),
        ("pdfgen", "BASE_DIR"),
        ("rtfgen", "BASE_DIR"),
        ("docgen_doc", "BASE_DIR"),
        ("queries", "STREAM_GATE_DIR"),
    ],
)
def test_data_roots_live_beside_the_package(module, attr):
    """Generated inputs, goldens and scratch sinks resolve under the data/
    dir of the checkout the package was imported from, so a second
    checkout never reads or writes another one's data."""
    import importlib
    import pathlib

    mod = importlib.import_module(f"wordscape_spark.{module}")
    checkout = pathlib.Path(mod.__file__).resolve().parents[1]
    root = getattr(mod, attr)
    assert root.is_absolute()
    assert root.resolve().is_relative_to(checkout / "data"), root


def test_generators_fail_loudly_inside_the_zip(tmp_path):
    """Imported from the spark-submit zip (scripts/package.sh), DATA_DIR
    lies inside the archive file: a generator must say to run from a
    checkout, not fail on an unrelated mkdir."""
    import os
    import pathlib
    import subprocess
    import sys
    import zipfile

    pkg = pathlib.Path(datagen.__file__).resolve().parent
    archive = tmp_path / "wordscape_spark.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        for p in pkg.rglob("*.py"):
            zf.write(p, p.relative_to(pkg.parent).as_posix())
    r = subprocess.run(
        [sys.executable, "-c",
         "from wordscape_spark import datagen; "
         "assert '.zip' in datagen.__file__, datagen.__file__; "
         "datagen.ensure_interleaved(0.001)"],
        cwd=tmp_path,
        env={**os.environ, "PYTHONPATH": str(archive)},
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert r.returncode != 0
    assert "RuntimeError" in r.stderr and "run from a checkout" in r.stderr
