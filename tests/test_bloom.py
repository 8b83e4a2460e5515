"""Bloom seen-set gate (operators/bloom.py): the packed bitmap, the
membership verdicts (no false negatives; deterministic false positives)
and the surviving set must match an independent pure-Python bloom; the
gate plan must stay broadcast + per-row (no probe-side shuffle)."""

import hashlib

import pytest
from pyspark.sql import functions as F

from wordscape_spark.operators import bloom

M, K = 128, 3  # small bitmap → false positives actually occur (17/60)

SEEN = [f"https://seen.example/{i}.doc" for i in range(40)]
PROBE = SEEN[:7] + [f"https://new.example/{i}.doc" for i in range(60)]


def _h(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _positions(key: str) -> list[int]:
    h1, h2 = _h(key), _h("bloom2:" + key)
    return [(h1 + i * h2) % M for i in range(K)]


def _py_words() -> dict[int, int]:
    words: dict[int, int] = {}
    for key in SEEN:
        for p in _positions(key):
            w = p // bloom.WORD_BITS
            words[w] = words.get(w, 0) | (1 << (p % bloom.WORD_BITS))
    return words


def _py_seen(key: str) -> bool:
    words = _py_words()
    return all(
        words.get(p // bloom.WORD_BITS, 0) >> (p % bloom.WORD_BITS) & 1
        for p in _positions(key)
    )


@pytest.fixture(scope="module")
def seen_df(spark):
    return spark.createDataFrame([(k,) for k in SEEN], "url string")


@pytest.fixture(scope="module")
def probe_df(spark):
    return spark.createDataFrame(
        [(k, f"payload-{i}") for i, k in enumerate(PROBE)],
        "url string, body string",
    )


@pytest.fixture(scope="module")
def words_df(seen_df):
    return bloom.bloom_build(seen_df, "url", m=M, k=K).cache()


def test_bitmap_matches_python(words_df):
    got = {r["word_idx"]: r["word"] for r in words_df.collect()}
    assert got == _py_words()


def _verdicts(probe_df, words_df) -> dict[str, bool]:
    """(url → seen) per probe row: ``seen_expr`` over the broadcast bitmap,
    the predicate ``bloom_new`` negates."""
    rows = (
        probe_df.crossJoin(F.broadcast(bloom._bitmap_map(words_df)))
        .select("url", F.expr(bloom.seen_expr("url", "_bloom_map", M, K)))
        .collect()
    )
    return {r[0]: r[1] for r in rows}


def test_no_false_negatives(probe_df, words_df):
    verdicts = _verdicts(probe_df, words_df)
    for key in SEEN[:7]:
        assert verdicts[key] is True, key


def test_verdicts_match_python_bloom_exactly(probe_df, words_df):
    verdicts = _verdicts(probe_df, words_df)
    assert len(verdicts) == len(PROBE)
    for key in PROBE:
        assert verdicts[key] == _py_seen(key), key


def test_false_positives_exist_at_this_sizing(probe_df, words_df):
    """m=256 over 40·3 insertions is deliberately tight — if no unseen
    key collides the fixture has stopped exercising the bloom trade."""
    fp = [k for k in PROBE[7:] if _py_seen(k)]
    assert fp, "fixture regression: pick a smaller m"
    survivors = {
        r["url"]
        for r in bloom.bloom_new(probe_df, words_df, "url", M, K).collect()
    }
    assert survivors == {k for k in PROBE[7:] if not _py_seen(k)}
    for k in fp:
        assert k not in survivors


def test_new_rows_keep_payload(probe_df, words_df):
    rows = bloom.bloom_new(probe_df, words_df, "url", M, K).collect()
    want = {
        k: f"payload-{i}"
        for i, k in enumerate(PROBE)
        if not _py_seen(k)
    }
    assert {r["url"]: r["body"] for r in rows} == want


def test_gate_plan_is_broadcast_per_row(probe_df, words_df, seen_df):
    """The probe side must not shuffle: the only exchanges allowed are
    the filter build's own aggregations; the bitmap rides in via a
    broadcast nested-loop crossJoin and the verdict is per-row."""
    fresh = bloom.bloom_new(
        probe_df, bloom.bloom_build(seen_df, "url", m=M, k=K), "url", M, K
    )
    plan = fresh._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" not in plan  # no key-join anywhere
    # the only repartitionings are the build's word_idx groupBy — the
    # probe never shuffles on its key
    assert "hashpartitioning(url" not in plan, plan
    assert "hashpartitioning(key" not in plan, plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "word_idx" in line, line
