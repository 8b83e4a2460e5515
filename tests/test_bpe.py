"""BPE training/encoding (operators/bpe.py): the distributed trainer
must match a pure-Python reference implementation (Sennrich-style
zip-count + left-to-right scan-merge) on corpora with ties, overlapping
pairs and empty docs; encoding must never merge across word boundaries;
the encode plan stays Exchange-free."""

from collections import Counter

import pytest

from wordscape_spark.operators import bpe
from wordscape_spark.operators import shaping


# ------------------------------------------------------ python reference


def _merge_word(parts, lhs, rhs):
    """One merge over a token list: a left-to-right scan that joins each
    (lhs, rhs) occurrence and resumes after it (learn_bpe's scan-merge)."""
    out, i = [], 0
    while i < len(parts):
        if i + 1 < len(parts) and (parts[i], parts[i + 1]) == (lhs, rhs):
            out.append(lhs + rhs)
            i += 2
        else:
            out.append(parts[i])
            i += 1
    return out


def _py_train(texts, k):
    words = Counter()
    for t in texts:
        for w in (t or "").lower().strip().split():
            words[w] += 1
    toks = {w: list(w) for w in words}
    merges = []
    for rank in range(1, k + 1):
        pairs = Counter()
        for w, cnt in words.items():
            parts = toks[w]
            for a, b in zip(parts, parts[1:]):
                pairs[(a, b)] += cnt
        if not pairs:
            break
        (lhs, rhs), freq = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((rank, lhs, rhs, freq))
        for w in toks:
            toks[w] = _merge_word(toks[w], lhs, rhs)
    return merges


def _py_encode(text, merges):
    n = 0
    for w in (text or "").lower().strip().split():
        parts = list(w)
        for _, lhs, rhs, _ in merges:
            parts = _merge_word(parts, lhs, rhs)
        n += len(parts)
    return n


CORPUS = [
    (0, "the cat sat on the mat"),
    (1, "the bat and the cat chat"),
    (2, "aaa aaaa aa a"),  # overlapping (a, a) pairs
    (3, "zz zz zz yy yy xx"),  # tie-break territory
    (4, ""),  # empty doc
    (5, "   spaced    out\ttabs  "),
    (6, "punct, punct. punct! (punct)"),
    (7, "the the the thethe"),
    (8, "abab aaaaaa"),  # repeats right after a merge
]
K = 6


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(CORPUS, "doc_id long, text string")


@pytest.fixture(scope="module")
def merges(docs):
    return bpe.bpe_train(docs, n_merges=K)


def test_train_matches_python(merges):
    assert merges == _py_train([t for _, t in CORPUS], K)


def test_encode_matches_python(docs, merges):
    got = {
        r["doc_id"]: r["n_tokens"]
        for r in bpe.bpe_encode(docs, merges).collect()
    }
    want = {i: _py_encode(t, merges) for i, t in CORPUS}
    assert got == want


def test_no_cross_word_merges(spark):
    """'a b' as two words must never merge even when (a, b) is the top
    pair inside words — the double-space join blocks it."""
    rows = [(0, "ab ab ab"), (1, "a b")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    merges = bpe.bpe_train(df, n_merges=1)
    assert merges[0][1:3] == ("a", "b")
    got = {r["doc_id"]: r["n_tokens"] for r in bpe.bpe_encode(df, merges).collect()}
    assert got == {0: 3, 1: 2}  # 'ab' x3 merged; 'a b' stays two tokens


def test_adjacent_repeats_merge_every_occurrence(spark):
    """A merge must not consume the delimiter the next occurrence needs:
    'abab' under (a, b) is [ab, ab], and 'aaaaaa' under (a, a) is
    [aa, aa, aa] — in the Python reference, on Spark, and in the DuckDB
    train and encode chains."""
    import duckdb

    rows = [(0, "abab"), (1, "aaaaaa")]
    assert _merge_word(list("abab"), "a", "b") == ["ab", "ab"]
    assert _merge_word(list("aaaaaa"), "a", "a") == ["aa", "aa", "aa"]
    want = [(1, "a", "a", 5), (2, "a", "b", 2), (3, "aa", "aa", 2),
            (4, "aaaa", "aa", 1), (5, "ab", "ab", 1)]
    assert _py_train([t for _, t in rows], 5) == want
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert bpe.bpe_train(df, n_merges=5) == want
    one = {
        r["doc_id"]: r["n_tokens"]
        for r in bpe.bpe_encode(df, [(1, "a", "b", 2)]).collect()
    }
    assert one == {0: 2, 1: 6}
    first = {
        r["doc_id"]: r["n_tokens"]
        for r in bpe.bpe_encode(df, want[:1]).collect()
    }
    assert first == {0: 4, 1: 3}

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    ctes, union = bpe.train_ctes("documents", 5)
    got = con.execute(
        f"WITH {ctes} SELECT rank, lhs, rhs, freq FROM ({union}) ORDER BY rank"
    ).fetchall()
    assert [tuple(r) for r in got] == want
    ctes, final = bpe.encode_ctes("documents", 1)
    assert dict(con.execute(f"WITH {ctes} {final}").fetchall()) == first


def test_early_stop_no_pairs(spark):
    import duckdb

    rows = [(0, "a b c"), (1, "a a b")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # singleton words have no adjacent pairs: training stops early
    assert bpe.bpe_train(df, n_merges=5) == []
    # and the DuckDB encode chain, which has no early stop, still keeps
    # every document
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    ctes, final = bpe.encode_ctes("documents", 5)
    assert dict(con.execute(f"WITH {ctes} {final}").fetchall()) == {0: 3, 1: 3}


def test_max_vocab_words_cap(docs):
    hist = bpe.word_histogram(docs, max_vocab_words=3)
    assert hist.count() == 3


def test_invalid_n_merges(docs):
    with pytest.raises(ValueError):
        bpe.bpe_train(docs, n_merges=0)


def test_encode_plan_no_exchange(docs, merges):
    plan = (
        bpe.bpe_encode(docs, merges)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


# ------------------------------------------------------------ data splits


def test_split_weights_validation():
    with pytest.raises(ValueError):
        shaping.split_expr("doc_id", {"train": 50, "val": 10}, "spark")


def test_split_deterministic_and_exhaustive(spark):
    df = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"]: r["split"] for r in shaping.assign_split(df).collect()}
    b = {
        r["doc_id"]: r["split"]
        for r in shaping.assign_split(df.repartition(13)).collect()
    }
    assert a == b
    counts = Counter(a.values())
    assert set(counts) <= {"train", "val", "test"}
    assert counts["train"] > 900  # 98% nominal


def test_train_oracle_fuzz_vs_python():
    """The generated merge-round CTEs (the oracle's semantic core: pair
    zip, tie-break, left-to-right literal replace) must match the pure-
    Python reference on random adversarial corpora — tiny alphabets
    force count ties and overlapping pairs.  DuckDB-only: fast, and the
    Spark<->oracle leg is covered by the sf0.01 parity gate."""
    import random

    import duckdb

    rng = random.Random(0xB9E)
    for trial in range(30):
        n_docs = rng.randint(1, 12)
        corpus = []
        for i in range(n_docs):
            words = [
                "".join(
                    rng.choice("aab") for _ in range(rng.randint(1, 6))
                )
                for _ in range(rng.randint(0, 10))
            ]
            corpus.append((i, " ".join(words)))
        k = rng.randint(1, 5)
        want = _py_train([t for _, t in corpus], k)
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE documents(doc_id BIGINT, text VARCHAR)"
        )
        con.executemany("INSERT INTO documents VALUES (?, ?)", corpus)
        ctes, union = bpe.train_ctes("documents", k)
        got = [
            tuple(r)
            for r in con.execute(
                f"WITH {ctes} SELECT rank, lhs, rhs, freq FROM ({union})"
                " ORDER BY rank"
            ).fetchall()
        ]
        # the SQL chain has no early stop: rounds past pair exhaustion
        # emit no row (LIMIT 1 over empty), so got equals want
        assert got == want, (trial, corpus, k)
        ctes, final = bpe.encode_ctes("documents", k)
        enc = dict(con.execute(f"WITH {ctes} {final}").fetchall())
        assert enc == {i: _py_encode(t, want) for i, t in corpus}, (
            trial, corpus, k
        )
