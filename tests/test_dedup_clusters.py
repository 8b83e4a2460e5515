import math
import random

import pytest
import pyspark.sql.functions as F

from wordscape_spark.operators import dedup as D


def test_connected_components(spark):
    # two clusters: {a,b,c,d} chained, {x,y}; singleton z untouched
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")],
        "doc_a string, doc_b string",
    )
    labels = {
        r["doc_id"]: r["cluster_id"]
        for r in D.duplicate_clusters(pairs).collect()
    }
    assert labels == {"a": "a", "b": "a", "c": "a", "d": "a",
                      "x": "x", "y": "x"}


def test_keep_representatives(spark):
    docs = spark.createDataFrame(
        [(d, f"text {d}") for d in "abcdxyz"], "doc_id string, text string"
    )
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "doc_a string, doc_b string"
    )
    clusters = D.duplicate_clusters(pairs)
    kept = sorted(
        r["doc_id"]
        for r in D.keep_cluster_representatives(docs, clusters).collect()
    )
    assert kept == ["a", "d", "x", "z"]


def _chain(spark, ids):
    return spark.createDataFrame(
        list(zip(ids, ids[1:])), "doc_a string, doc_b string"
    )


def _union_find_labels(edges):
    """Pure-Python oracle: doc -> smallest id of its component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_long_chain_plan_stays_bounded(spark):
    # A 64-doc chain takes ~log2(64) rounds; every round plans over the
    # checkpointed edge leaf and the previous round's checkpointed labels,
    # so the returned frame's plan does not grow with the round count or
    # carry the caller's pair-generation lineage.  Pin both the correctness
    # of the deep chain and a sane plan size.
    ids = [f"d{i:02d}" for i in range(64)]
    labels = D.duplicate_clusters(_chain(spark, ids))
    plan = labels._jdf.queryExecution().analyzed().toString()
    assert len(plan) < 100_000, f"plan grew to {len(plan)} chars"
    rows = {r["doc_id"]: r["cluster_id"] for r in labels.collect()}
    assert rows == {i: ids[0] for i in ids}


def test_chain_converges_in_log_rounds(spark):
    n = 128
    ids = [f"d{i:03d}" for i in range(n)]
    labels = D.duplicate_clusters(
        _chain(spark, ids), max_iterations=2 * math.ceil(math.log2(n))
    )
    rows = {r["doc_id"]: r["cluster_id"] for r in labels.collect()}
    assert rows == {i: ids[0] for i in ids}


def test_random_graph_matches_union_find(spark):
    # a reversed-id chain, a chain in shuffled id order (more than 20
    # rounds for hop + pointer jumping without the hook), and sparse
    # random edges that leave a mix of component sizes
    rng = random.Random(20141103)
    ids = [f"g{i:03d}" for i in range(400)]
    shuffled = rng.sample(ids[:150], 150)
    edges = (
        list(zip(ids[299:199:-1], ids[298:198:-1]))
        + list(zip(shuffled, shuffled[1:]))
        + [tuple(rng.sample(ids[150:200] + ids[300:], 2)) for _ in range(120)]
    )
    pairs = spark.createDataFrame(edges, "doc_a string, doc_b string")
    rows = {
        r["doc_id"]: r["cluster_id"]
        for r in D.duplicate_clusters(pairs).collect()
    }
    assert rows == _union_find_labels(edges)


def test_round_budget_exhausted_raises(spark):
    ids = [f"d{i:02d}" for i in range(64)]
    with pytest.raises(
        RuntimeError, match="duplicate_clusters did not converge in 1 "
    ):
        D.duplicate_clusters(_chain(spark, ids), max_iterations=1)


def test_minhash_verify_jaccard_unchanged(spark):
    """The verify Jaccard |A∩B| / (|A|+|B|−|A∩B|) rounds to the same
    values as the array_union form it replaced, including empty and NULL
    texts (which collide in LSH among themselves), with and without ANSI
    size-of-NULL semantics."""
    texts = [
        ("01", "the quick brown fox jumps over the lazy dog"),
        ("02", "the quick brown fox jumps over the lazy dog"),
        ("03", "the quick brown fox jumps over the lazy dog today"),
        ("04", "the quick brown fox leaps over the lazy dog"),
        ("05", ""),
        ("06", ""),
        ("07", "two words"),
        ("08", None),
        ("09", None),
    ]
    docs = spark.createDataFrame(texts, "doc_id string, text string")
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    try:
        for mode in ("true", "false"):
            # size-of-NULL semantics bind when a frame is built
            spark.conf.set("spark.sql.ansi.enabled", mode)
            # the LSH candidates, rebuilt from the band keys
            bands = D.with_minhash(docs).selectExpr(
                "doc_id", "sh",
                "stack(4, 0, band0, 1, band1, 2, band2, 3, band3) "
                "AS (band, key)",
            )
            candidates = (
                bands.alias("a").join(bands.alias("b"), ["band", "key"])
                .filter("a.doc_id < b.doc_id")
                .selectExpr("a.doc_id AS doc_a", "b.doc_id AS doc_b",
                            "a.sh AS sh_a", "b.sh AS sh_b")
                .dropDuplicates(["doc_a", "doc_b"])
            )
            pairs = {(r[0], r[1]) for r in candidates.collect()}
            assert {("01", "02"), ("05", "06"), ("08", "09")} <= pairs
            want = candidates.selectExpr(
                "doc_a", "doc_b",
                "round(CASE WHEN size(array_union(sh_a, sh_b)) = 0 THEN 0D "
                "ELSE CAST(size(array_intersect(sh_a, sh_b)) AS DOUBLE) / "
                "size(array_union(sh_a, sh_b)) END, 6) AS jaccard",
            ).filter("jaccard >= 0.0")
            got = D.minhash_duplicate_pairs(docs, threshold=0.0)
            plan = got._jdf.queryExecution().optimizedPlan().toString()
            assert "array_union" not in plan
            assert sorted(map(tuple, got.collect())) == sorted(
                map(tuple, want.collect())
            ), mode
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)


def test_end_to_end_minhash_clustering(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = docs.selectExpr("CAST(doc_id AS STRING) doc_id", "text").unionByName(
        docs.filter("doc_id % 20 = 0").selectExpr(
            "CAST(doc_id + 1000 AS STRING) doc_id", "text"
        )
    )
    pairs = D.minhash_duplicate_pairs(corpus, threshold=0.8, fast=True)
    clusters = D.duplicate_clusters(pairs)
    kept = D.keep_cluster_representatives(corpus, clusters)

    # exactly the non-representative cluster members are removed
    n_losers = clusters.filter("doc_id != cluster_id").count()
    assert kept.count() == corpus.count() - n_losers

    # an exact planted copy is never kept together with its original
    kept_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    for r in docs.filter("doc_id % 20 = 0").select("doc_id").collect():
        orig, copy = str(r["doc_id"]), str(r["doc_id"] + 1000)
        assert not (orig in kept_ids and copy in kept_ids)


@pytest.mark.parametrize(
    "build, once",
    [
        (
            lambda df: df.withColumn(
                "sh", F.expr(D.shingles_expr("text", "spark"))
            ),
            ("split(",),
        ),
        (D.simhash, ("split(", "md5(")),
    ],
    ids=["shingles_expr", "simhash"],
)
def test_shingles_tokenizer_bound_once(spark, build, once):
    """The shingle transform must bind the token array once: CollapseProject
    inlining the split() into the per-shingle lambda re-tokenizes the
    document per element — O(tokens²) per doc (measured 9.2 s → 0.4 s on a
    50k-doc corpus when fixed).  SimHash binds its token hashes the same
    way: inlining `hs` into the per-bit lambda re-tokenizes and re-hashes
    once per bit (the 15× trap in its docstring), so its plan must hold one
    split() and one md5()."""
    df = spark.createDataFrame([("d", "a b c d e")], "doc_id string, text string")
    optimized = build(df)._jdf.queryExecution().optimizedPlan().toString()
    for needle in once:
        assert optimized.count(needle) == 1, (needle, optimized)


def test_dsir_grams_tokenizer_bound_once(spark):
    """DSIR's unigram+bigram gram expression must likewise tokenize once
    (the bigram lambda previously re-split per gram)."""
    import pyspark.sql.functions as F

    from wordscape_spark.operators import dsir as DS

    df = spark.createDataFrame([("d", "a b c d e")], "doc_id string, text string")
    optimized = (
        df.withColumn("g", F.expr(DS.gram_expr("text")))
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert optimized.count("split(") == 1, optimized
