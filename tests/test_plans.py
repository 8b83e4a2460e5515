"""Physical-plan quality gates: predicate pushdown, column pruning,
broadcast joins — the properties that keep the engine viable at 100 TB."""

import pyspark.sql.functions as F
import pytest

from wordscape_spark import datagen
from wordscape_spark.operators import extract as X
from wordscape_spark.operators import filters as FL
from wordscape_spark.operators import urls as U


@pytest.fixture(scope="module")
def docs_path():
    return datagen.ensure_interleaved(0.001)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_to_parquet(spark, docs_path):
    df = spark.read.parquet(docs_path).filter(F.col("doc_id") == "doc-00000001")
    plan = _formatted(df)
    assert "PushedFilters" in plan
    assert "IsNotNull(doc_id)" in plan or "EqualTo(doc_id" in plan


def test_column_pruning(spark, docs_path):
    df = spark.read.parquet(docs_path).select("doc_id")
    plan = _formatted(df)
    # ReadSchema must not include the heavy spans column
    assert "spans" not in plan.split("ReadSchema")[1].split("\n")[0]


def test_anti_join_broadcasts_small_history(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs = U.with_url_hash(
        docs.withColumn("url", F.expr("CAST(doc_id AS STRING)"))
    )
    history = docs.filter("doc_id % 7 = 0").select("url_hash")
    joined = U.anti_join_history(docs, F.broadcast(history))
    assert "BroadcastHashJoin" in _plan(joined) or "BroadcastNestedLoop" in _plan(joined)


def test_whitelist_thresholds_broadcast(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs = docs.withColumn(
        "pseudo_perplexity", F.expr(FL.pseudo_perplexity_expr("text", "spark"))
    ).withColumn("quality", F.col("n_chars").cast("double"))
    out = FL.doc_whitelist(docs)
    assert "BroadcastHashJoin" in _plan(out)


def test_extract_gates_are_native(spark, docs_path):
    """The size gates must appear as Catalyst Filter nodes (pushable,
    codegen'd), not be buried in the Python UDF.  With the maintained
    n_spans column (datagen v4) the split predicate must PUSH to the scan
    (answered from parquet row-group stats, BENCH/PRUNING.md); a table
    without the column falls back to native size(spans) filters."""
    docs = spark.read.parquet(docs_path)
    plan = _formatted(X.extract(docs))
    assert "PushedFilters: [IsNotNull(n_spans), LessThanOrEqual(n_spans" in (
        plan
    ) or "PushedFilters: [IsNotNull(n_spans), GreaterThan(n_spans" in plan
    assert "MapInArrow" in plan  # the hot path (no pandas round-trip)
    # fallback path: no n_spans column → native size() filters
    plan2 = _plan(X.extract(docs.select("doc_id", "spans")))
    assert "size(spans" in plan2


def test_partitioned_sink_prunes(spark, docs_path, tmp_path):
    """Partition pruning on a partitioned sink — the parquet stand-in for
    Iceberg partition-level metadata filtering (no Iceberg runtime jar in
    this sandbox; on a cluster the same plan property comes from the
    Iceberg source).  A reader filtering one partition value must scan only
    that partition (PartitionFilters in the scan node)."""
    out = str(tmp_path / "part")
    docs = spark.read.parquet(docs_path)
    bucketed = docs.withColumn(
        "bucket", F.expr("pmod(xxhash64(doc_id), 8)")
    )
    bucketed.write.partitionBy("bucket").parquet(out)
    rd = spark.read.parquet(out).filter(F.col("bucket") == 3)
    plan = _formatted(rd)
    scan_section = plan.split("PartitionFilters")[1].split("\n")[0]
    assert "bucket" in scan_section
    # and the filter is NOT a post-scan row filter on the data column
    assert rd.count() == bucketed.filter("bucket = 3").count()


def test_whole_stage_codegen_for_native_ops(spark):
    from wordscape_spark.operators import text as T

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(T.with_langid(T.with_metrics(docs)))
    assert "*(" in plan  # WholeStageCodegen stage marker
    assert "BatchEvalPython" not in plan  # zero row-at-a-time python


# --------------------------------------------------------- pretrain plan


def test_pretrain_prep_invariants(spark):
    from wordscape_spark.operators import bpe as BPE
    from wordscape_spark.plans import pretrain as PT

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    res = PT.pretrain_prep(docs, n_merges=4, seq_len=32, n_streams=2)

    # leakage: merges identical to training on the train split alone
    train_only = res["splits"].filter("split = 'train'")
    assert res["merges"] == BPE.bpe_train(train_only, n_merges=4)

    audit = {r["split"]: r.asDict() for r in PT.split_audit(res).collect()}
    assert set(audit) <= {"train", "val", "test"}
    assert sum(a["n_docs"] for a in audit.values()) == docs.count()

    # token conservation per split: packed slices cover every encoded
    # token plus one EOS per non-empty doc
    enc = {
        (r["split"], r["doc_id"]): r["n_tokens"]
        for r in res["encoded"].collect()
    }
    packed = res["packed"].collect()
    covered: dict[str, int] = {}
    for r in packed:
        split = r["seq_id"].split("-")[0]
        covered[split] = covered.get(split, 0) + (r["doc_to"] - r["doc_from"])
    for split, a in audit.items():
        nonempty = sum(
            1 for (s, _), n in enc.items() if s == split and n > 0
        )
        assert covered.get(split, 0) == a["sum_tokens"] + nonempty
        if a["n_seqs"]:
            assert a["n_seqs"] == len(
                {r["seq_id"] for r in packed if r["seq_id"].startswith(split)}
            )
