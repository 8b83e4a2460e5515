#!/usr/bin/env python
"""Benchmark harness: the frozen headline suite.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
    {"metric": ..., "value": <total sec>, "unit": "sec",
     "queries": {...per-query sec...}, "sf": ..., "docs_per_sec": ...}
"""

from __future__ import annotations

import json
import os
import pathlib
import sys
import time

REPO = pathlib.Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def _noop_write(df) -> int:
    df.write.format("noop").mode("overwrite").save()
    return 0


def _median(xs: list[float]) -> float:
    s = sorted(xs)
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def _loadavg1() -> float:
    """1-minute load average — external pressure at pass start."""
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except (OSError, ValueError, IndexError):
        return -1.0


def _steal_ticks() -> int:
    """Cumulative CPU-steal jiffies (noisy-neighbor signal on this VM)."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        return int(parts[8])  # cpu: user nice system idle iowait irq softirq STEAL
    except (OSError, ValueError, IndexError):
        return -1


class _NoiseProbe:
    """Per-pass host-noise samples recorded into the bench JSON, so a
    regression-looking round can be adjudicated as window-vs-code without
    re-running (driver suite numbers swung 2× on host noise in r4 AND r5;
    the r5 verdict asked for this guard).  Per pass: the 1-min loadavg at
    pass start and the steal-time seconds accumulated DURING the pass."""

    def __init__(self):
        self.loadavg: dict[str, list[float]] = {}
        self.steal_s: dict[str, list[float]] = {}
        try:
            self._hz = os.sysconf("SC_CLK_TCK") or 100
        except (ValueError, OSError):
            self._hz = 100

    def start(self) -> tuple[float, int]:
        return _loadavg1(), _steal_ticks()

    def end(self, name: str, started: tuple[float, int]) -> None:
        load0, steal0 = started
        steal1 = _steal_ticks()
        self.loadavg.setdefault(name, []).append(load0)
        self.steal_s.setdefault(name, []).append(
            round((steal1 - steal0) / self._hz, 2)
            if steal0 >= 0 and steal1 >= 0
            else -1.0
        )

    def report(self) -> dict:
        return {"loadavg1_at_pass_start": self.loadavg,
                "steal_s_during_pass": self.steal_s}


def run_bench() -> dict:
    from wordscape_spark import datagen
    from wordscape_spark import queries as Q
    from wordscape_spark.operators import extract as X
    from wordscape_spark.session import build_session

    sf = datagen.sf_from_dir(SF_DIR)
    interleaved = datagen.ensure_interleaved(sf)

    spark = build_session(
        app_name="wordscape-bench",
        master=f"local[{CPUS}]",
        shuffle_partitions=int(CPUS),
        # splits ≫ cores so the last task wave amortizes heavy-tailed
        # per-partition costs (see BENCH/SCALING_ANALYSIS.md §3a)
        extra_conf={"spark.sql.files.minPartitionNum": "256"},
    )
    # per-query pass walls: every query is measured N_PASSES times; the
    # report carries min, median AND all passes — min is the reproducible
    # floor on this noisy shared VM (±20-50% identical-pass spread, see
    # BENCH/SCALING_ANALYSIS.md §3b), median is the unbiased estimator, and
    # disclosing both keeps cross-round comparisons honest (the round-2
    # protocol headlined min-of-N only).
    passes: dict[str, list[float]] = {}
    timings: dict[str, float] = {}
    timings_median: dict[str, float] = {}
    # 3 passes: with 2 the "median" is the cold/warm mean; 3 yields a true
    # median robust to one outlier pass
    n_passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3"))

    docs = spark.read.parquet(interleaved)
    n_docs = docs.count()
    # corpus weight: spans are the unit of classification work (datagen v3
    # docs carry ~1.5x the spans of round-1 docs — multi-page sections,
    # nested tables, metadata), so docs/s alone is not round-comparable
    n_spans = docs.selectExpr("sum(size(spans)) AS n").collect()[0]["n"]

    # warmup: spawn python workers / JIT codegen before any timed query
    _noop_write(X.extract(docs.limit(512)))

    noise = _NoiseProbe()

    def timed(name: str, fn):
        walls = []
        for _ in range(n_passes):
            probe = noise.start()
            t0 = time.monotonic()
            fn()
            walls.append(round(time.monotonic() - t0, 3))
            noise.end(name, probe)
        passes[name] = walls
        timings[name] = min(walls)
        timings_median[name] = round(_median(walls), 3)

    # headline: full extraction (classified spans + metadata for every doc)
    timed("extract", lambda: _noop_write(X.extract(docs)))

    # the span-equality surface alone (extract_slim): what a spans-only
    # consumer pays — no metadata columns through the Arrow return leg
    timed("extract_slim", lambda: _noop_write(X.extract_slim(docs)))

    # quality-gate / auxiliary operators at bench scale
    timed(
        "dedup_minhash",
        lambda: _noop_write(Q.QUERIES["dedup_minhash"](spark, SF_DIR)),
    )
    from wordscape_spark.operators import dedup as D

    timed(
        "dedup_minhash_fast",
        lambda: _noop_write(
            D.minhash_duplicate_pairs(
                spark.read.parquet(f"{SF_DIR}/documents.parquet").selectExpr(
                    "CAST(doc_id AS STRING) AS doc_id", "text"
                ),
                fast=True,
            )
        ),
    )
    timed(
        "dedup_exact",
        lambda: _noop_write(Q.QUERIES["dedup_exact"](spark, SF_DIR)),
    )
    timed(
        "langid_metrics",
        lambda: _noop_write(
            Q.QUERIES["text_metrics"](spark, SF_DIR).join(
                Q.QUERIES["langid"](spark, SF_DIR), "doc_id"
            )
        ),
    )
    timed(
        "ann_brute_topk",
        lambda: _noop_write(Q.QUERIES["ann_brute_topk"](spark, SF_DIR)),
    )
    timed(
        "doc_whitelist",
        lambda: _noop_write(Q.QUERIES["doc_whitelist"](spark, SF_DIR)),
    )
    timed(
        "media_features",
        lambda: _noop_write(Q.QUERIES["media_features"](spark, SF_DIR)),
    )

    spark.stop()
    total = round(sum(timings.values()), 3)
    total_median = round(sum(timings_median.values()), 3)
    return {
        "metric": "wordscape_spark end-to-end operator suite",
        "value": total,
        "unit": "sec",
        "value_median": total_median,
        "queries": timings,
        "queries_median": timings_median,
        "passes": passes,
        "sf": sf,
        "n_docs": n_docs,
        "n_spans": int(n_spans),
        "docs_per_sec": round(n_docs / timings["extract"], 2),
        "docs_per_sec_median": round(n_docs / timings_median["extract"], 2),
        "spans_per_sec": round(n_spans / timings["extract"], 2),
        "spans_per_sec_median": round(
            n_spans / timings_median["extract"], 2
        ),
        "cpus": int(CPUS),
        "noise": noise.report(),
    }


if __name__ == "__main__":
    print(json.dumps(run_bench()))
