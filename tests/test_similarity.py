"""Similarity search: brute-force exactness properties + LSH recall floor."""

import pytest

from wordscape_spark.operators import similarity as SIM


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")


def test_brute_force_topk_properties(spark, emb):
    queries = emb.filter("vec_id % 97 = 0")
    out = SIM.brute_force_topk(emb, queries, k=5).collect()
    by_query = {}
    for r in out:
        by_query.setdefault(r["query_id"], []).append(r)
    for qid, rows in by_query.items():
        assert len(rows) == 5
        ranks = sorted(r["rank"] for r in rows)
        assert ranks == [1, 2, 3, 4, 5]
        scores = [r["cos"] for r in sorted(rows, key=lambda r: r["rank"])]
        assert scores == sorted(scores, reverse=True)
        assert all(r["neighbor_id"] != qid for r in rows)


def test_lsh_recall_floor(spark, emb):
    """LSH is approximate by design; require recall@5 ≥ 0.6 vs brute force
    on this corpus (16 planes / 8 bands, measured 0.90) and report it."""
    queries = emb.filter("vec_id % 53 = 0")
    brute = SIM.brute_force_topk(emb, queries, k=5).collect()
    approx = SIM.lsh_topk(emb, queries, k=5).collect()

    truth = {}
    for r in brute:
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    got = {}
    for r in approx:
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
    total = sum(len(v) for v in truth.values())
    recall = hits / total
    print(f"LSH recall@5 = {recall:.3f} over {len(truth)} queries")
    assert recall >= 0.6


def test_lsh_deterministic_across_partitionings(spark, emb):
    queries = emb.filter("vec_id % 97 = 0")
    a = sorted(
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in SIM.lsh_topk(emb.repartition(13), queries, k=5).collect()
    )
    b = sorted(
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in SIM.lsh_topk(emb.coalesce(1), queries, k=5).collect()
    )
    assert a == b


def test_ivf_recall_floor_and_determinism(spark, emb):
    """IVF is approximate by design; require recall@5 ≥ 0.6 vs brute force
    on this corpus (nlist=8, nprobe=3 — measured 0.80), and identical
    output under a different input partitioning (centroid training reads a
    sorted sample, so repartitioning must not change results)."""
    queries = emb.filter("vec_id % 97 = 0")
    brute = {
        (r["query_id"], r["neighbor_id"])
        for r in SIM.brute_force_topk(emb, queries, k=5).collect()
    }
    out = SIM.ivf_topk(emb, queries, k=5)
    got = {(r["query_id"], r["neighbor_id"]) for r in out.collect()}
    recall = len(brute & got) / len(brute)
    assert recall >= 0.6, f"IVF recall@5 too low: {recall}"

    reparted = SIM.ivf_topk(emb.repartition(13), queries, k=5)
    a = sorted(map(tuple, out.collect()))
    b = sorted(map(tuple, reparted.collect()))
    assert a == b


def test_ivf_cell_assignment_covers_corpus(spark, emb):
    """Every vector lands in exactly one cell in [1, nlist]."""
    cents = SIM.train_ivf_centroids(SIM.sample_for_training(emb))
    assert len(cents) == SIM.IVF_NLIST
    cells = SIM.with_ivf_cell(emb, cents)
    import pyspark.sql.functions as F

    agg = cells.agg(
        F.min("ivf_cell").alias("lo"),
        F.max("ivf_cell").alias("hi"),
        F.count("*").alias("n"),
        F.count("ivf_cell").alias("n_assigned"),
    ).collect()[0]
    assert agg["lo"] >= 1 and agg["hi"] <= SIM.IVF_NLIST
    assert agg["n"] == agg["n_assigned"]


def test_semantic_dedup_keeps_one_per_component(spark):
    """Planted semantic duplicates: three near-identical vectors collapse
    to the lowest id; an isolated vector survives.  A cell over
    ``max_cell_size`` is excluded from pairing, so all its docs are kept
    (lower-bound semantics); the derived ``nlist`` grows with the corpus
    between ``IVF_NLIST`` and ``SEMDEDUP_NLIST_CAP``."""
    import pyspark.sql.functions as F

    from wordscape_spark.operators import similarity as S

    base = [1.0] + [0.0] * 15
    near1 = [0.999, 0.01] + [0.0] * 14
    near2 = [0.998, 0.02] + [0.0] * 14
    ortho = [0.0] * 15 + [1.0]
    rows = [(1, base), (2, near1), (3, near2), (10, ortho)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    kept = sorted(
        r["doc_id"]
        # nlist=1: a 4-vector corpus would otherwise get one k-means
        # cell per vector and no within-cell pairs
        for r in S.semantic_dedup(df, threshold=0.9, nlist=1).collect()
    )
    assert kept == [1, 10]
    over_cap = sorted(
        r["doc_id"]
        for r in S.semantic_dedup(
            df, threshold=0.9, nlist=1, max_cell_size=3
        ).collect()
    )
    assert over_cap == [1, 2, 3, 10]

    assert S.semantic_nlist(100) == S.IVF_NLIST == 8
    assert S.semantic_nlist(100_000) == 98
    assert S.semantic_nlist(10**9) == S.SEMDEDUP_NLIST_CAP == 65_536


def test_training_sample_mirror_parity(spark, emb):
    """sample_for_training (Spark md5-ordered TakeOrdered) must select the
    exact same vectors as the pure-Python sample_order_key mirror that the
    golden/oracle generators sort by — if these drift, the inlined
    centroids on the oracle side silently diverge from the operator's."""
    spark_sample = SIM.sample_for_training(emb, n=64)

    rows = emb.select("vec_id", "embedding").collect()
    mirrored = sorted(
        rows, key=lambda r: (SIM.sample_order_key(r["vec_id"]), r["vec_id"])
    )[:64]
    py_sample = [[float(x) for x in r["embedding"]] for r in mirrored]

    assert spark_sample == py_sample


def test_brute_force_pruning_parity_with_allpairs(spark):
    """The GEMM candidate-pruning path must be row-exact vs the all-pairs
    expression form on adversarial data: exact duplicate vectors (rounded
    ties broken by neighbor_id), near ties straddling the 4-dp boundary,
    zero vectors, and a corpus smaller than k."""
    import pyspark.sql.functions as F
    from pyspark.sql.window import Window

    def allpairs(corpus, queries, k=5):
        q = queries.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qvec"),
        )
        c = corpus.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("cvec"),
        )
        scored = (
            c.join(F.broadcast(q))
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .withColumn("cos", F.expr(SIM._cosine_expr("qvec", "cvec")))
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cos"), F.asc("neighbor_id")
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cos", "rank")
        )

    base = [1.0, 2.0, 3.0, 0.5]
    rows = []
    for i in range(120):
        if i % 3 == 0:
            rows.append((i, list(base)))  # exact duplicates: cos ties
        elif i % 3 == 1:
            rows.append((i, [x + 0.00001 * i for x in base]))  # near ties
        else:
            rows.append((i, [float(i), 1.0, -2.0, 0.1]))
    rows.append((500, [0.0, 0.0, 0.0, 0.0]))  # zero vector
    adv = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    ).repartition(8)
    qadv = adv.filter("vec_id % 7 = 0")
    got = sorted(map(tuple, SIM.brute_force_topk(adv, qadv, k=5).collect()))
    want = sorted(map(tuple, allpairs(adv, qadv, k=5).collect()))
    assert got == want

    tiny = spark.createDataFrame(
        rows[:3], "vec_id bigint, embedding array<double>"
    )
    got = sorted(map(tuple, SIM.brute_force_topk(tiny, tiny, k=5).collect()))
    want = sorted(map(tuple, allpairs(tiny, tiny, k=5).collect()))
    assert got == want

    empty_q = adv.filter("vec_id > 10000")
    assert SIM.brute_force_topk(adv, empty_q, k=5).collect() == []
