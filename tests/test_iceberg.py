"""Iceberg integration — gated on the iceberg-spark runtime jar.

The engine's north rule targets an Iceberg table of interleaved documents
(``read_docs("iceberg://db.table")``, sources/tables.py:79) and the
checkpoint plan leans on Iceberg's snapshot/commit semantics at cluster
scale (plans/checkpoint.py).  The sandbox ships no iceberg-spark runtime
jar, so this module SKIPS there; on a host that has one (see README
"Iceberg" — iceberg-spark-runtime-4.x_2.13) it round-trips the real
format: write the interleaved table hash-distributed by bucket, read it
back through ``read_docs``, and check snapshot isolation (a reader pinned
to the first snapshot does not see a later append).

Each test runs in a SUBPROCESS: catalog configs and --jars must be set
before the driver JVM exists, and the suite's shared session has neither.
"""

import glob
import os
import subprocess
import sys

import pytest

_JAR_GLOBS = [
    os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars",
                 "iceberg-spark-runtime-*.jar"),
    os.environ.get("ICEBERG_JAR", ""),
]


def _find_jar() -> str | None:
    for pattern in _JAR_GLOBS:
        if pattern:
            hits = sorted(glob.glob(pattern))
            if hits:
                return hits[0]
    return None


_JAR = _find_jar()

pytestmark = pytest.mark.skipif(
    _JAR is None,
    reason="iceberg-spark-runtime jar not on this host "
    "(set ICEBERG_JAR or drop it into $SPARK_HOME/jars)",
)

_SCRIPT = r"""
import sys
from pyspark.sql import SparkSession, functions as F
from wordscape_spark import datagen
from wordscape_spark.sources.tables import read_docs

warehouse, jar = sys.argv[1], sys.argv[2]
spark = (
    SparkSession.builder.master("local[4]")
    .appName("iceberg-roundtrip")
    .config("spark.jars", jar)
    .config("spark.sql.extensions",
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions")
    .config("spark.sql.catalog.local", "org.apache.iceberg.spark.SparkCatalog")
    .config("spark.sql.catalog.local.type", "hadoop")
    .config("spark.sql.catalog.local.warehouse", warehouse)
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
src = spark.read.parquet(datagen.ensure_interleaved(0.001))
n = src.count()

# write hash-distributed by a bucket of doc_id — the layout the checkpoint
# plan's bucket commits map onto at cluster scale
spark.sql("CREATE NAMESPACE IF NOT EXISTS local.db")
(src.writeTo("local.db.docs")
    .using("iceberg")
    .tableProperty("write.distribution-mode", "hash")
    .createOrReplace())

back = read_docs(spark, "iceberg://local.db.docs")
assert back.count() == n, (back.count(), n)
assert set(back.columns) >= {"doc_id", "spans"}, back.columns

snap0 = spark.sql(
    "SELECT snapshot_id FROM local.db.docs.snapshots ORDER BY committed_at"
).first()[0]
src.limit(5).writeTo("local.db.docs").append()
assert read_docs(spark, "iceberg://local.db.docs").count() == n + 5
pinned = (
    spark.read.format("iceberg")
    .option("snapshot-id", str(snap0))
    .load("local.db.docs")
)
assert pinned.count() == n, "snapshot isolation violated"
print("ICEBERG_OK")
"""


def test_iceberg_roundtrip_and_snapshot_isolation(tmp_path):
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT, str(tmp_path / "warehouse"), _JAR],
        capture_output=True,
        text=True,
        cwd="/root/repo",
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "ICEBERG_OK" in proc.stdout
