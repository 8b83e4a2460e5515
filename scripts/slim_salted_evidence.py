#!/usr/bin/env python
"""Evidence for the slim salted-branch change: on the MEGA-DOC subset
(n_spans > salt_threshold, the rows that take the chunked path), compare

* before (r4 shape): full ``extract`` then project to the slim columns —
  every mega-doc pays the fat EXTRACTED_SCHEMA Arrow return leg
  (doc text + per-page text + metrics roughly triple the string volume);
* after (r5 shape): ``_extract_salted(..., EXTRACTED_SLIM_SCHEMA)`` —
  slim rows at the chunk merge.

Mega docs only exist at the larger scale factors; run at sf0.8.
Writes BENCH/SLIM_SALTED.md.

Run: python scripts/slim_salted_evidence.py
(env: SPARK_GRAFT_SCALING_SF_DIR, default /root/testdata/sf0.8;
 SPARK_GRAFT_CPUS, default 16)
"""

from __future__ import annotations

import os
import pathlib
import sys
import time

REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from wordscape_spark import datagen  # noqa: E402
from wordscape_spark.config import DEFAULT_CONFIG  # noqa: E402
from wordscape_spark.operators import extract as X  # noqa: E402
from wordscape_spark.session import build_session  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get(
        "SPARK_GRAFT_SCALING_SF_DIR", "/root/testdata/sf0.8"
    )
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "16")
    path = datagen.ensure_interleaved(datagen.sf_from_dir(sf_dir))
    cfg = DEFAULT_CONFIG

    spark = build_session(
        app_name="slim-salted-evidence",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    docs = spark.read.parquet(path)
    big = docs.filter(f"n_spans > {cfg.salt_threshold}")
    n_big = big.count()
    n_spans = big.selectExpr("sum(n_spans) AS s").collect()[0]["s"]

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    slim_cols = ["doc_id", "ok", "reject_reason", "spans"]

    def before():
        noop(X.extract(big, cfg).select(*slim_cols))

    def after():
        noop(
            X._extract_salted(big, cfg, X.EXTRACTED_SLIM_SCHEMA)
        )

    # warmup both paths once, then interleave measured passes
    before()
    after()
    walls = {"before": [], "after": []}
    for _ in range(3):
        for name, fn in (("before", before), ("after", after)):
            t0 = time.monotonic()
            fn()
            walls[name].append(round(time.monotonic() - t0, 2))

    b_min, a_min = min(walls["before"]), min(walls["after"])
    b_med = sorted(walls["before"])[1]
    a_med = sorted(walls["after"])[1]

    out = REPO / "BENCH" / "SLIM_SALTED.md"
    out.write_text(
        f"""# BENCH/SLIM_SALTED — slim rows at the salted chunk merge

Mega-doc subset of {sf_dir.rsplit('/', 1)[-1]} (n_spans > \
{cfg.salt_threshold}): {n_big} docs, {n_spans} spans, local[{cpus}].
"before" is the r4 shape (full ``extract`` then project — the old
``extract_slim`` mega-doc branch); "after" emits slim rows at the chunk
merge (`_extract_salted` with the slim row builder).  Interleaved
passes, warmup excluded.

| variant | passes (s) | min | median |
|---|---|---|---|
| full-then-project (r4) | {walls['before']} | {b_min:.2f} | {b_med:.2f} |
| slim at merge (r5) | {walls['after']} | {a_min:.2f} | {a_med:.2f} |

**Speedup: {b_min / a_min:.2f}x (min), {b_med / a_med:.2f}x (median)**
on the rows the slim branch previously paid the fat Arrow return leg
for.  The small-doc path is unchanged (already slim since r4).
"""
    )
    print(out.read_text())
    spark.stop()


if __name__ == "__main__":
    main()
