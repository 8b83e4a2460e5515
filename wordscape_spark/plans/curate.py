"""End-to-end curation plan: Gopher quality gates → exact dedup →
MinHash+LSH near-dedup → per-language token budget, as ONE composed
DataFrame chain with a funnel-metrics table.

Reference analog: WordScape runs its stage-E assembly as separate scripts
(quality filter, bytehash dedup in `download_dump_data.py:155-168`,
dataset shaping in `app/src/extensions/`); a training-data user runs them
as one job.  This plan is that job — the "switch to this repo and run
everything you run today" composition over the extracted/normalized text
table.

Scale shape (100 TB):
* the quality gate is a per-row flag on the corpus scan (zero Exchange —
  `gopher_quality(keep_cols=...)` rides the payload columns through, no
  join back);
* a scan that plans fewer partitions than cores (a small input; one
  row group scans as one task) has its gate survivors hash-partitioned
  by doc_id into one partition per core before their pin, so the
  MinHash signature, band, verify and survivor stages run one task per
  core.  The gate still runs in the scan stage, below that exchange, so
  only survivors cross it.  The count is explicit because AQE coalesces
  a count-less repartition of a few hundred KB into one task.  A scan
  of at least one split per core, as any 100 TB scan is, keeps its
  splits and crosses no exchange, so the spread costs nothing at scale.
  The rule reads planned splits, not non-empty ones: one row group
  larger than cores x the split size still scans as one task;
* exact dedup aggregates (bytehash, doc_id) only and rejoins by doc_id —
  the text column never shuffles for it;
* near-dedup shuffles MinHash signatures and band keys, never text
  (operators/dedup.py scale notes); the cluster stage checkpoints the
  verified pairs once as a symmetric edge frame, which cuts the upstream
  lineage, then labels components in O(log n) rounds over that leaf.
  Its labels are (doc_id, cluster_id) over duplicate docs only;
* the token budget is the stream-decomposed window (no per-language
  single-partition sort — operators/shaping.py);
* the gated frame and the two dedup survivor frames are persisted, so a
  pass evaluates the gate and each dedup join once however many
  consumers read them; the funnel runs its five aggregates in one action
  over those pins.  On a real run the stage boundaries can commit through
  plans.checkpoint-style bucket commits instead (stage outputs are also
  the natural resume points).
"""

from __future__ import annotations

import sys
from functools import reduce

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from wordscape_spark.operators import dedup as D
from wordscape_spark.operators import quality_rules as QR
from wordscape_spark.operators import shaping as SH
from wordscape_spark.operators import text as T

STAGES = ("input", "quality", "exact_dedup", "near_dedup", "token_budget")


def curate(
    docs: DataFrame,
    *,
    min_words: int = 10,
    jaccard_threshold: float = 0.5,
    budget_per_lang: int = 2_000,
    n_streams: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
) -> dict[str, DataFrame]:
    """Run the curation chain; returns ``{stage: surviving DataFrame}`` in
    STAGES order.  Every stage frame carries
    (doc_id string, lang, text, tokens) — the final stage adds
    ``cum_tokens``.  doc_id comparisons (exact-dedup keep, cluster
    representative, budget order) are STRING ordering throughout, matching
    the dedup operators' internal casts."""
    base = docs.select(
        F.col(id_col).cast("string").alias("doc_id"),
        F.col(lang_col).alias("lang"),
        F.col(text_col).alias("text"),
    ).withColumn(
        "tokens", F.expr(T.token_exprs("text", "spark")["tokens_ws"])
    )

    # three pinned frames: the gated frame feeds the exact-dedup keep
    # aggregate, its semi-join and the funnel; exact feeds the MinHash
    # stage, the survivor join and the funnel; near feeds the budget and
    # the funnel.  Unpinned, each consumer re-runs the upstream chain: the
    # gate would run four times per pass, each a single task on a
    # one-row-group input.  On a real 100 TB run the stage boundaries
    # commit through plans.checkpoint instead.
    quality = (
        QR.gopher_quality(
            base, min_words=min_words, keep_cols=("lang", "text", "tokens")
        )
        .filter("gopher_pass")
        .select("doc_id", "lang", "text", "tokens")
    )
    cores = docs.sparkSession.sparkContext.defaultParallelism
    if _planned_partitions(docs) < cores:  # see "Scale shape"
        quality = quality.repartition(cores, "doc_id")
    quality = quality.persist()

    keep = D.exact_duplicate_groups(quality).select(
        F.col("keep_doc_id").alias("doc_id")
    )
    exact = quality.join(keep, "doc_id", "semi").persist()

    pairs = D.minhash_duplicate_pairs(exact, threshold=jaccard_threshold)
    clusters = D.duplicate_clusters(pairs)
    near = D.keep_cluster_representatives(exact, clusters).persist()

    budget = SH.token_budget_sample(
        near, budget_per_lang=budget_per_lang, n_streams=n_streams
    )

    return {
        "input": base,
        "quality": quality,
        "exact_dedup": exact,
        "near_dedup": near,
        "token_budget": budget,
    }


def _planned_partitions(df: DataFrame) -> int:
    """How many partitions ``df``'s physical plan reads, found without a
    job.  A plan with an exchange is adaptive, and AQE would run its
    stages to answer, so it counts as already spread."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        return sys.maxsize
    return plan.execute().getNumPartitions()


def funnel(stages: dict[str, DataFrame]) -> DataFrame:
    """(stage_order, stage, n_docs, n_tokens) — one row per stage, the
    job's audit record (the analog of the reference's per-stage log
    tallies).  Runs ONE Spark action — the five single-row aggregates
    unioned, no data motion beyond each stage's own plan — and returns
    its rows as a local 5-row table, so writing and collecting the result
    start no job over the stage frames."""
    parts = [
        df.agg(
            F.count("*").alias("n_docs"),
            F.coalesce(F.sum("tokens"), F.lit(0)).cast("bigint").alias(
                "n_tokens"
            ),
        ).select(
            F.lit(i).cast("int").alias("stage_order"),
            F.lit(name).alias("stage"),
            "n_docs",
            "n_tokens",
        )
        for i, (name, df) in enumerate(stages.items())
    ]
    counts = reduce(DataFrame.unionByName, parts)
    # an Arrow table becomes a LocalRelation; a list of Rows would be
    # parallelized into an RDD, and collecting that is a job again
    return counts.sparkSession.createDataFrame(counts.toArrow(), counts.schema)
