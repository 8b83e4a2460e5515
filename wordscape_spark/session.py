"""SparkSession factory with scale-oriented defaults.

AQE on (runtime coalescing + skew-join splitting), Arrow batches sized for
the Python UDF traffic, shuffle partitions sized for the local harness but
overridable for cluster runs (set ``spark.sql.shuffle.partitions`` ≈ 2-3× the
executor-core count at 100 TB; AQE coalesces down from there).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _gc_threads(master: str) -> int:
    """GC thread budget from the local[N] core count (min 2, max 8)."""
    import re

    m = re.search(r"local\[(\d+)\]", master or "")
    if not m:
        return 8
    return max(2, min(8, int(m.group(1)) // 2))


def build_session(
    app_name: str = "wordscape-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or "local[{}]".format(
        os.environ.get("SPARK_GRAFT_CPUS", "32")
    )
    # Python workers import this package (UDF closures reference its
    # modules) and the fastdaemon module below; putting the repo root on
    # PYTHONPATH before the JVM launches makes both importable in every
    # worker regardless of the worker's cwd.  Must happen before
    # getOrCreate() — the JVM child process inherits this environment.
    _repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    _pp = os.environ.get("PYTHONPATH", "")
    if _repo_root not in _pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            _repo_root + (os.pathsep + _pp if _pp else "")
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow batches for Python UDF traffic (the extraction hot path);
        # smaller batches keep the per-worker working set cache-friendly
        # (measured ~20% faster at high concurrency than 2048)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        # G1 + GC threads scaled to the session's core budget: default GC
        # threading scales with *machine* cores and competes with the
        # Python workers for CPU (worst when taskset-pinned to few cores)
        .config(
            "spark.driver.extraJavaOptions",
            f"-XX:+UseG1GC -XX:ParallelGCThreads={_gc_threads(master)} "
            f"-XX:ConcGCThreads={max(1, _gc_threads(master) // 2)}",
        )
        # adaptive execution: runtime partition coalescing + skew handling
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m"
        )
        # parquet scan sizing: smaller splits → better parallelism on the
        # nested spans column (zstd decompresses ~5×, and each doc row fans
        # out into heavy Python classification work)
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.files.minPartitionNum", "64")
        # default 4m open-cost floors split size at 4m, capping small-file
        # scan parallelism; docs rows are compute-heavy per byte
        .config("spark.sql.files.openCostInBytes", "524288")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # worker daemon with cached zip-import invalidation: stock
        # pyspark.worker calls importlib.invalidate_caches() per TASK, and
        # Python 3.11 re-parses every sys.path zip's central directory on
        # each call (~0.2 s of CPU per task with the distribution zips —
        # a 256-split Python stage pays ~1.6 s on 32 cores before any work).
        # The daemon backports CPython 3.12's mtime guard (gh-87319); a zip
        # that actually changes is still re-read.  See fastdaemon.py.
        .config(
            "spark.python.daemon.module", "wordscape_spark.fastdaemon"
        )
    )
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    # ad-hoc conf overrides for bench experiments, e.g.
    # SPARK_GRAFT_EXTRA_CONF="spark.sql.files.minPartitionNum=256".
    # Entries split on ';' or on commas that start a new key=value pair, so
    # conf VALUES containing commas (spark.sql.extensions=A,B) survive.
    import re as _re

    env_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for item in filter(None, _re.split(r";|,(?=[A-Za-z_][\w.]*=)", env_conf)):
        k, _, v = item.partition("=")
        builder = builder.config(k.strip(), v.strip())
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
