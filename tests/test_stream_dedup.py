"""Stateful streaming dedup: duplicates arriving in later micro-batches are
dropped by the state store, surviving query restarts."""

import pyarrow as pa
import pyarrow.parquet as pq

from wordscape_spark import datagen
from wordscape_spark.streaming import stream as S


def test_streaming_dedup_across_batches(spark, tmp_path):
    src = datagen.ensure_interleaved(0.001)
    table = pq.read_table(src).slice(0, 40)
    indir = tmp_path / "in"
    indir.mkdir()
    pq.write_table(table, str(indir / "wave1.parquet"))

    outdir, cpdir = str(tmp_path / "out"), str(tmp_path / "cp")
    q = S.stream_extract(spark, str(indir), outdir, cpdir, dedup=True)
    q.awaitTermination(300)
    n1 = spark.read.parquet(outdir).count()
    assert n1 == 40  # first wave: all unique contents

    # wave 2: exact duplicates under NEW doc_ids + 10 genuinely new docs
    dup = table.slice(0, 20).set_column(
        0, "doc_id",
        pa.array([f"copy-{i:04d}" for i in range(20)]),
    )
    fresh = pq.read_table(src).slice(40, 10)
    pq.write_table(pa.concat_tables([dup, fresh]), str(indir / "wave2.parquet"))

    q2 = S.stream_extract(spark, str(indir), outdir, cpdir, dedup=True)
    q2.awaitTermination(300)
    out = spark.read.parquet(outdir)
    # dedup applies to accepted docs only; rejects pass through untouched
    # (they are the audit side-output and all share sha256('') on text)
    n_rej_w1 = out.filter("NOT ok AND NOT doc_id LIKE 'copy-%'").count()
    ok_rows = out.filter("ok")
    n_ok = ok_rows.count()
    assert n_ok + n_rej_w1 + out.filter(
        "NOT ok AND doc_id LIKE 'copy-%'"
    ).count() == out.count()
    # every accepted content survives exactly once, copies dropped by state
    assert ok_rows.select("bytehash").distinct().count() == n_ok
    assert not [
        r for r in ok_rows.select("doc_id").collect()
        if r["doc_id"].startswith("copy-")
    ]
    # 50 distinct accepted contents total (40 + 10 fresh, minus rejects)
    assert n_ok == 50 - n_rej_w1
