#!/usr/bin/env python
"""spark-submit entry point for the extraction pipeline.

Cluster usage (north rule: multi-executor, resumable, lineage'd):

    scripts/package.sh   # builds dist/wordscape_spark.zip
    spark-submit --py-files dist/wordscape_spark.zip \
        scripts/run_extract.py \
        --input /path/or/iceberg://db.docs --output /path/out \
        --buckets 256

Local smoke (the input is written by ``datagen.ensure_interleaved(0.001)``):

    PYTHONPATH=. python scripts/run_extract.py --master "local[$(nproc)]" \
        --input data/interleaved/v4/sf0.001/docs.parquet --output /tmp/out
"""

from __future__ import annotations

import argparse
import sys


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--buckets", type=int, default=64)
    p.add_argument("--master", default=None)
    args = p.parse_args()

    from pyspark.sql import SparkSession

    # under spark-submit the session config comes from the submit command;
    # standalone we build one ourselves
    active = SparkSession.getActiveSession()
    if active is None:
        try:
            from wordscape_spark.session import build_session

            spark = build_session(app_name="wordscape-extract", master=args.master)
        except ImportError:
            spark = SparkSession.builder.getOrCreate()
    else:
        spark = active

    from wordscape_spark.plans import checkpoint as CP
    from wordscape_spark.sources.tables import read_docs

    docs = read_docs(spark, args.input)
    out = CP.run_extract_checkpointed(
        spark, docs, args.output, n_buckets=args.buckets
    )
    metrics = CP.metrics_table(spark, args.output).first()
    print(
        f"done: {metrics['total_docs']} docs "
        f"({metrics['total_ok']} ok, {metrics['total_rejected']} rejected) "
        f"@ {metrics['docs_per_sec']} docs/s",
        file=sys.stderr,
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
