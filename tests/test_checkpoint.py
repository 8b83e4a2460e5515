"""Resume-idempotence: kill a checkpointed run after k buckets, re-run,
output must be identical to an uninterrupted run."""

import pathlib
import shutil

import pytest

from wordscape_spark import datagen
from wordscape_spark.plans import checkpoint as CP


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(datagen.ensure_interleaved(0.001))


def _collect(df):
    rows = df.select("doc_id", "ok", "text", "quality").collect()
    return sorted((r["doc_id"], r["ok"], r["text"], r["quality"]) for r in rows)


def test_resume_after_failure_is_identical(spark, docs, tmp_path_factory):
    clean_dir = str(tmp_path_factory.mktemp("cp_clean"))
    resumed_dir = str(tmp_path_factory.mktemp("cp_resumed"))

    baseline = CP.run_extract_checkpointed(spark, docs, clean_dir, n_buckets=4)

    with pytest.raises(RuntimeError, match="injected failure"):
        CP.run_extract_checkpointed(
            spark, docs, resumed_dir, n_buckets=4, fail_after=2
        )
    assert len(CP.completed_buckets(resumed_dir)) == 2

    resumed = CP.run_extract_checkpointed(spark, docs, resumed_dir, n_buckets=4)
    assert _collect(baseline) == _collect(resumed)

    # lineage accounting covers every bucket exactly once
    lineage = CP.read_lineage(spark, resumed_dir).collect()
    assert sorted(r["bucket"] for r in lineage) == [0, 1, 2, 3]

    metrics = CP.metrics_table(spark, resumed_dir).first()
    assert metrics["total_docs"] == docs.count()
    assert metrics["docs_per_sec"] > 0


def test_rerun_completed_is_noop(spark, docs, tmp_path):
    out = str(tmp_path / "cp")
    CP.run_extract_checkpointed(spark, docs, out, n_buckets=2)
    lineage_before = pathlib.Path(out, "lineage.jsonl").read_text()
    CP.run_extract_checkpointed(spark, docs, out, n_buckets=2)
    assert pathlib.Path(out, "lineage.jsonl").read_text() == lineage_before


def test_single_extraction_pass_regardless_of_buckets(
    spark, docs, tmp_path, monkeypatch
):
    """The staged design scans/classifies ONCE for any n_buckets — the r3
    per-bucket rescan (8× read amplification) must not come back."""
    calls = []
    real_extract = CP.X.extract

    def counting_extract(df, cfg):
        calls.append(1)
        return real_extract(df, cfg)

    monkeypatch.setattr(CP.X, "extract", counting_extract)
    CP.run_extract_checkpointed(spark, docs, str(tmp_path / "cp"), n_buckets=8)
    assert len(calls) == 1


def test_crash_between_rename_and_lineage_keeps_data(spark, docs, tmp_path):
    """A crash AFTER a bucket's rename but BEFORE its lineage append must
    not wipe the renamed data on resume (the rename is the data commit;
    the lineage row is the bookkeeping commit)."""
    out = tmp_path / "cp"
    with pytest.raises(RuntimeError, match="injected failure"):
        CP.run_extract_checkpointed(
            spark, docs, str(out), n_buckets=4, fail_after=1
        )
    # simulate the crash window: rename one staged-but-uncommitted bucket
    # into the output without writing its lineage row
    staged = sorted((out / "_staging").glob("bucket=*"))
    assert staged
    victim = staged[0]
    victim.rename(out / victim.name)

    resumed = CP.run_extract_checkpointed(spark, docs, str(out), n_buckets=4)
    assert resumed.count() == docs.count()
    lineage = CP.read_lineage(spark, str(out)).collect()
    assert sorted(r["bucket"] for r in lineage) == [0, 1, 2, 3]
    assert all(r["n_docs"] > 0 for r in lineage)
    metrics = CP.metrics_table(spark, str(out)).first()
    assert metrics["total_docs"] == docs.count()


def test_resume_after_commit_crash_recomputes_nothing(
    spark, docs, tmp_path, monkeypatch
):
    """A crash BETWEEN bucket commits leaves complete staged data; resume
    must be commit-only — extraction must not run again."""
    out = str(tmp_path / "cp")
    with pytest.raises(RuntimeError, match="injected failure"):
        CP.run_extract_checkpointed(spark, docs, out, n_buckets=4, fail_after=1)
    assert len(CP.completed_buckets(out)) == 1

    def bomb(df, cfg):
        raise AssertionError("extract re-ran on a commit-only resume")

    monkeypatch.setattr(CP.X, "extract", bomb)
    resumed = CP.run_extract_checkpointed(spark, docs, out, n_buckets=4)
    assert resumed.count() == docs.count()
    assert sorted(
        r["bucket"] for r in CP.read_lineage(spark, out).collect()
    ) == [0, 1, 2, 3]


def test_resume_with_different_n_buckets_fails_loudly(spark, docs, tmp_path):
    """Bucket indices are only meaningful under the modulus that produced
    them: resuming an out_dir with a different n_buckets must raise, not
    silently commit a subset and delete the rest."""
    out = str(tmp_path / "cp")
    with pytest.raises(RuntimeError, match="injected failure"):
        CP.run_extract_checkpointed(spark, docs, out, n_buckets=8, fail_after=1)
    with pytest.raises(ValueError, match="n_buckets=8"):
        CP.run_extract_checkpointed(spark, docs, out, n_buckets=4)
    # the original modulus still resumes cleanly
    resumed = CP.run_extract_checkpointed(spark, docs, out, n_buckets=8)
    assert resumed.count() == docs.count()


def test_returned_schema_matches_plain_extract(spark, docs, tmp_path):
    """The checkpoint layout's partition column must not leak into the
    returned DataFrame — callers expect EXTRACTED_SCHEMA parity."""
    plain = CP.X.extract(docs)
    ckpt = CP.run_extract_checkpointed(
        spark, docs, str(tmp_path / "cp"), n_buckets=2
    )
    assert "bucket" not in ckpt.columns
    assert sorted(ckpt.columns) == sorted(plain.columns)


def test_empty_bucket_crash_window_recovers(spark, docs, tmp_path):
    """A crash after an EMPTY bucket's mkdir commit but before its lineage
    append must not block resume (a bare dir has no parquet schema)."""
    two = docs.limit(2)
    out = tmp_path / "cp"
    with pytest.raises(RuntimeError, match="injected failure"):
        CP.run_extract_checkpointed(
            spark, two, str(out), n_buckets=8, fail_after=1
        )
    # simulate the crash window on a bucket with no rows: bare dir in the
    # output, no lineage row, absent from staging
    uncommitted = [
        b for b in range(8)
        if b not in CP.completed_buckets(str(out))
        and not (out / "_staging" / f"bucket={b}").exists()
    ]
    assert uncommitted, "need at least one empty pending bucket"
    victim = uncommitted[0]
    (out / f"bucket={victim}").mkdir()

    resumed = CP.run_extract_checkpointed(spark, two, str(out), n_buckets=8)
    assert resumed.count() == 2
    lineage = {r["bucket"]: r for r in CP.read_lineage(spark, str(out)).collect()}
    assert sorted(lineage) == list(range(8))
    assert lineage[victim]["n_docs"] == 0


def test_returned_frame_reads_listed_bucket_dirs(spark, docs, tmp_path):
    """The returned frame reads the committed ``bucket=<n>`` dirs, not a
    literal ``bucket=*`` glob, and a kill-and-resume returns the same rows
    as an uninterrupted run."""
    clean = tmp_path / "clean"
    baseline = CP.run_extract_checkpointed(spark, docs, str(clean), n_buckets=4)
    resumed_dir = tmp_path / "resumed"
    with pytest.raises(RuntimeError, match="injected failure"):
        CP.run_extract_checkpointed(
            spark, docs, str(resumed_dir), n_buckets=4, fail_after=2
        )
    resumed = CP.run_extract_checkpointed(
        spark, docs, str(resumed_dir), n_buckets=4
    )
    for out, df in ((clean, baseline), (resumed_dir, resumed)):
        files = [pathlib.Path(f.removeprefix("file://")) for f in df.inputFiles()]
        assert files
        for f in files:
            bucket = f.parent
            assert bucket.parent == out and bucket.is_dir(), f
            assert bucket.name.startswith("bucket="), f
            assert bucket.name.removeprefix("bucket=").isdigit(), f
    assert "bucket" not in resumed.columns
    assert _collect(baseline) == _collect(resumed)
