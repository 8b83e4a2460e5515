"""Curation pipeline plan (plans/curate.py): stage containment, funnel
accounting, keep_cols passthrough, and plan shape."""

import pyspark.sql.functions as F
import pytest

from wordscape_spark.operators import quality_rules as QR
from wordscape_spark.plans import curate as CU


@pytest.fixture(scope="module")
def corpus(spark):
    rows = []
    for i in range(40):
        # a shared preamble + a dominant doc-specific block, so cross-doc
        # shingle Jaccard stays < 0.5 while a planted mutation stays > 0.5
        spec = " ".join(f"c{i}x{j}" for j in range(24))
        text = (
            f"the quick document speaks of shipping and ports and carries "
            f"enough plain words that have been set to clear the gates {spec}"
        )
        rows.append((str(i), "en" if i % 2 else "de", text))
    # planted exact duplicate of doc 3 and a near duplicate of doc 5
    rows.append(("900", "de", rows[3][2]))
    rows.append(("901", "en", rows[5][2] + " the end"))
    # a junk doc the quality gate must drop
    rows.append(("902", "en", "@@@ ### !!!"))
    return spark.createDataFrame(rows, "doc_id string, lang string, text string")


@pytest.fixture(scope="module")
def stages(corpus):
    return CU.curate(corpus, budget_per_lang=400, n_streams=2)


def test_stage_order_and_containment(stages):
    assert tuple(stages) == CU.STAGES
    ids = {
        name: {r["doc_id"] for r in df.select("doc_id").collect()}
        for name, df in stages.items()
    }
    assert (
        ids["token_budget"] <= ids["near_dedup"] <= ids["exact_dedup"]
        <= ids["quality"] <= ids["input"]
    )
    assert "902" not in ids["quality"]  # junk dropped by the gate
    # exact pair {3, 900}: string-min keeps "3"; near pair {5, 901}: keeps "5"
    assert "900" not in ids["exact_dedup"] and "3" in ids["exact_dedup"]
    assert "901" not in ids["near_dedup"] and "5" in ids["near_dedup"]


def test_funnel_matches_stage_counts(spark, stages):
    """funnel() runs its aggregates in its own action: collecting the
    frame it returns starts no Spark job, and its rows equal the
    per-stage aggregates."""
    sc = spark.sparkContext
    frame = CU.funnel(stages)
    group = "test-funnel-collect"
    sc.setJobGroup(group, "collect the funnel")
    try:
        rows = frame.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert frame.schema.simpleString() == (
        "struct<stage_order:int,stage:string,n_docs:bigint,n_tokens:bigint>"
    )
    funnel = {r["stage"]: r for r in rows}
    assert [funnel[s]["stage_order"] for s in CU.STAGES] == [0, 1, 2, 3, 4]
    for name, df in stages.items():
        agg = df.agg(
            F.count("*").alias("n"), F.sum("tokens").alias("t")
        ).first()
        assert funnel[name]["n_docs"] == agg["n"]
        assert funnel[name]["n_tokens"] == (agg["t"] or 0)


def test_budget_respected_per_language(stages):
    per_stream = 400 // 2
    got = stages["token_budget"].groupBy("lang").agg(
        F.max("cum_tokens").alias("mx")
    ).collect()
    assert got and all(r["mx"] <= per_stream for r in got)


def test_keep_cols_passthrough_zero_exchange(spark):
    df = spark.createDataFrame(
        [("1", "en", "the ship and the port have cargo that be plenty "
          "loaded with goods of every kind to sail")],
        "doc_id string, lang string, text string",
    ).withColumn("tokens", F.lit(17).cast("bigint"))
    out = QR.gopher_quality(df, keep_cols=("lang", "text", "tokens"))
    row = out.first()
    assert row["lang"] == "en" and row["tokens"] == 17
    assert row["text"].startswith("the ship")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # the gate flag stays per-row with keep_cols


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def _build_nodes(df):
    """The physical nodes that build ``df``'s cache, through AQE wrappers
    and query stages; another cached relation is a leaf (its scan is
    listed, its build is not entered)."""
    rel = df._jdf.queryExecution().withCachedData()
    assert rel.getClass().getSimpleName() == "InMemoryRelation"
    return _nodes_under(rel.cacheBuilder().cachedPlan())


def _nodes_under(plan):
    """``plan`` and every physical node below it, as ``_build_nodes``
    walks them."""
    todo, nodes = [plan], []
    while todo:
        p = todo.pop()
        kind = p.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            todo.append(p.executedPlan())
        elif kind.endswith("QueryStageExec"):
            todo.append(p.plan())
        elif kind == "ReusedExchangeExec":
            todo.append(p.child())
        else:
            nodes.append(p)
            todo.extend(_seq(p.children()))
    return nodes


def _gate_filters(nodes):
    # the Gopher gate is curate's only filter over the text column
    return [
        n for n in nodes
        if n.getClass().getSimpleName() == "FilterExec"
        and "text" in {a.name() for a in _seq(n.condition().references().toSeq())}
    ]


def test_gate_runs_once_in_the_cached_quality_frame(stages):
    """The gated frame is cached, and the two dedup frames reach the gate
    only through it: building their caches scans the quality (or exact)
    cache and evaluates no gate of its own."""
    for name in CU.STAGES[1:4]:
        assert stages[name].is_cached, name
    quality = _build_nodes(stages["quality"])
    assert len(_gate_filters(quality)) == 1
    builder = {
        name: stages[name]._jdf.queryExecution().withCachedData().cacheBuilder()
        for name in ("quality", "exact_dedup")
    }
    for name, upstream in (("exact_dedup", "quality"),
                           ("near_dedup", "exact_dedup")):
        nodes = _build_nodes(stages[name])
        assert _gate_filters(nodes) == [], name
        scans = [n.relation().cacheBuilder() for n in nodes
                 if n.getClass().getSimpleName() == "InMemoryTableScanExec"]
        assert scans and all(s.equals(builder[upstream]) for s in scans), name


def _curate_parquet(spark, path, stages):
    """curate over the parquet at ``path``, checked against the in-memory
    run's survivors at every stage; returns the stage frames, with the
    three pins materialized (the caller unpersists them)."""
    got = CU.curate(spark.read.parquet(path), budget_per_lang=400, n_streams=2)
    CU.funnel(got)
    for name in CU.STAGES[1:]:
        cols = ["doc_id", "lang", "tokens"]
        assert sorted(got[name].select(cols).collect()) == sorted(
            stages[name].select(cols).collect()
        ), name
    return got


def _pinned_partitions(got):
    return {
        name: got[name]._jdf.queryExecution().withCachedData()
        .cacheBuilder().cachedColumnBuffers().getNumPartitions()
        for name in CU.STAGES[1:4]
    }


def _kinds(nodes, kind):
    return [n for n in nodes if n.getClass().getSimpleName() == kind]


def test_one_row_group_input_spreads_one_partition_per_core(
    spark, corpus, stages, tmp_path
):
    """A one-row-group parquet input scans as one task; the gated frame is
    spread by doc_id before its pin, so the three pinned frames each hold
    one partition per core, and the gate still runs once below the
    exchange (only survivors cross it)."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "corpus.parquet")
    pq.write_table(corpus.toArrow(), path)
    assert pq.ParquetFile(path).num_row_groups == 1
    got = _curate_parquet(spark, path, stages)
    try:
        cores = spark.sparkContext.defaultParallelism
        assert set(_pinned_partitions(got).values()) == {cores}
        nodes = _build_nodes(got["quality"])
        below = [
            n for s in _kinds(nodes, "ShuffleExchangeExec")
            for n in _nodes_under(s)
        ]
        assert len(_gate_filters(nodes)) == len(_gate_filters(below)) == 1
    finally:
        for name in CU.STAGES[1:4]:
            got[name].unpersist()


def test_input_of_a_split_per_core_is_not_spread(
    spark, corpus, stages, tmp_path
):
    """A scan that already plans a split per core, as a large input does,
    keeps its splits: the gated frame's build crosses no exchange."""
    import pyarrow.parquet as pq

    cores = spark.sparkContext.defaultParallelism
    table = corpus.toArrow()
    step = -(-table.num_rows // cores)
    for i in range(cores):
        pq.write_table(
            table.slice(i * step, step), str(tmp_path / f"part-{i}.parquet")
        )
    assert spark.read.parquet(str(tmp_path)).rdd.getNumPartitions() == cores
    got = _curate_parquet(spark, str(tmp_path), stages)
    try:
        assert _pinned_partitions(got)["quality"] == cores
        nodes = _build_nodes(got["quality"])
        assert not _kinds(nodes, "ShuffleExchangeExec")
        assert len(_gate_filters(nodes)) == 1
    finally:
        for name in CU.STAGES[1:4]:
            got[name].unpersist()
