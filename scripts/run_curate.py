#!/usr/bin/env python
"""spark-submit entry point for the curation pipeline (plans/curate.py).

Runs the full training-set assembly over a text table: Gopher quality
gates → exact dedup → MinHash+LSH near-dedup → per-language token budget;
writes the surviving documents and the per-stage funnel audit table.

Cluster usage:

    scripts/package.sh   # builds dist/wordscape_spark.zip
    spark-submit --py-files dist/wordscape_spark.zip \
        scripts/run_curate.py \
        --input /path/or/iceberg://db.docs_text --output /path/out \
        --budget-per-lang 1000000000 --n-streams 1024

Local smoke:
    PYTHONPATH=. python scripts/run_curate.py \
        --input /root/testdata/sf0.01/documents.parquet --output /tmp/cur

The input table needs (doc_id, lang, text) columns.  At cluster scale,
size ``--n-streams`` ≫ executor-thread count (each budget stream is one
sort partition).  The plan persists the gated and the two dedup survivor
frames itself, and the funnel is computed once, so neither the write nor
the read-out below re-derives upstream stages.
"""

from __future__ import annotations

import argparse
import sys


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--min-words", type=int, default=10)
    p.add_argument("--jaccard-threshold", type=float, default=0.5)
    p.add_argument("--budget-per-lang", type=int, default=2_000_000)
    p.add_argument("--n-streams", type=int, default=32)
    p.add_argument("--master", default=None)
    args = p.parse_args()

    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is None:
        try:
            from wordscape_spark.session import build_session

            spark = build_session(app_name="wordscape-curate", master=args.master)
        except ImportError:
            spark = SparkSession.builder.getOrCreate()
    else:
        spark = active

    from wordscape_spark.plans import curate as CU

    # text-table input (doc_id, lang, text) — NOT the interleaved spans
    # table (for that, run scripts/run_extract.py first and curate its
    # serialized-text output)
    if args.input.startswith("iceberg://"):
        docs = spark.read.format("iceberg").load(args.input[len("iceberg://"):])
    else:
        docs = spark.read.parquet(args.input)
    missing = [c for c in ("doc_id", "lang", "text") if c not in docs.columns]
    if missing:
        raise SystemExit(f"input table is missing columns: {missing}")
    stages = CU.curate(
        docs,
        min_words=args.min_words,
        jaccard_threshold=args.jaccard_threshold,
        budget_per_lang=args.budget_per_lang,
        n_streams=args.n_streams,
    )
    # persist the final frame: it feeds both the dataset write and the
    # funnel's last aggregate
    final = stages["token_budget"].persist()
    final.write.mode("overwrite").parquet(f"{args.output}/dataset")
    funnel = CU.funnel(stages)
    funnel.write.mode("overwrite").parquet(f"{args.output}/funnel")
    for r in funnel.orderBy("stage_order").collect():
        print(
            f"{r['stage_order']} {r['stage']:>13}: "
            f"{r['n_docs']:>12} docs  {r['n_tokens']:>15} tokens",
            file=sys.stderr,
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
