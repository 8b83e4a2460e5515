"""Gopher/C4 quality rules: hand-checkable values per rule and the
all-native plan (no Python UDF)."""

import pyspark.sql.functions as F

from wordscape_spark.operators import quality_rules as QR


def _run(spark, rows):
    df = spark.createDataFrame(rows, "doc_id string, text string")
    return {r["doc_id"]: r.asDict() for r in QR.gopher_quality(df).collect()}


def test_rule_battery_hand_values(spark):
    out = _run(spark, [
        ("clean", "the quick brown fox and the lazy dog have fun with "
                  "that stick to be sure of it"),
        ("repeats", "repeat line\nrepeat line\nrepeat line\nunique line"),
        ("bullets", "• bullet one\n• bullet two\nplain line"),
        ("symbols", "#### #### #### symbols everywhere ### no stops"),
        ("empty", ""),
    ])
    clean = out["clean"]
    assert clean["gopher_pass"] and clean["n_words"] == 18
    assert clean["stop_word_count"] == 9
    assert clean["alpha_word_frac"] == 1.0

    rep = out["repeats"]
    # 3 of 4 non-empty lines are duplicates: 3/4 by count
    assert rep["dup_line_frac"] == 0.75
    # 3*11 duplicate chars over 3*11 + 11 total line chars
    assert rep["dup_line_char_frac"] == round(33 / 44, 6)
    assert not rep["gopher_pass"]

    bul = out["bullets"]
    assert bul["bullet_line_frac"] == round(2 / 3, 6)
    assert not bul["gopher_pass"]

    sym = out["symbols"]
    # 15 '#' occurrences over 8 words
    assert sym["symbol_word_ratio"] == round(15 / 8, 6)
    assert not sym["gopher_pass"]

    emp = out["empty"]
    assert emp["n_words"] == 0 and not emp["gopher_pass"]


def test_ellipsis_and_word_len_gates(spark):
    out = _run(spark, [
        ("ellipsis", "first line...\nsecond line…\nthe third line stays"),
        ("longwords", "the pneumonoultramicroscopic volcanoconiosis "
                      "supercalifragilistic expialidocious and that have "
                      "to be with of"),
    ])
    ell = out["ellipsis"]
    assert ell["ellipsis_line_frac"] == round(2 / 3, 6)
    lw = out["longwords"]
    assert lw["mean_word_len"] > 3.0  # gate is on the mean, not max


def test_plan_is_native(spark):
    df = spark.createDataFrame([("d", "x y z")], "doc_id string, text string")
    plan = (
        QR.gopher_quality(df)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def _dup_line_metrics(df):
    """(doc_id, dup_line_frac, dup_line_char_frac): the dup-line columns
    of ``word_metrics``, Catalyst prunes the rest."""
    return QR.word_metrics(df).select(
        "doc_id", "dup_line_frac", "dup_line_char_frac"
    )


def test_gopher_plan_zero_exchange(spark):
    """The r6 scale claim: the ENTIRE rule battery — dup-line metrics
    included — is one per-row projection.  The pre-r6 dup_line path
    exploded lines and re-aggregated twice, shuffling every distinct
    line's text for a document-local fraction."""
    df = spark.createDataFrame(
        [("d", "a line\nb line\na line")], "doc_id string, text string"
    )
    for q in (QR.gopher_quality(df), _dup_line_metrics(df)):
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_dup_line_metrics_row_per_doc(spark):
    """In-row contract: one output row per input doc; line-less docs get
    0.0 (the value the old no-row + left-join-fillna path produced)."""
    df = spark.createDataFrame(
        [("r", "x\nx\ny"), ("empty", ""), ("null", None)],
        "doc_id string, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in _dup_line_metrics(df).collect()}
    assert set(out) == {"r", "empty", "null"}
    assert out["r"]["dup_line_frac"] == round(2 / 3, 6)
    assert out["r"]["dup_line_char_frac"] == round(2 / 3, 6)
    assert out["empty"]["dup_line_frac"] == 0.0
    assert out["null"]["dup_line_char_frac"] == 0.0


def test_c4_clean_hand_values(spark):
    rows = [
        ("1", "A good sentence stays here.\nshort one\n"
              "Another proper sentence ends now!\n"
              "please accept our cookie policy today."),
        ("2", "no terminal punctuation anywhere\nstill none"),
        ("3", "He said “fine’\nA question remains here?"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = {r["doc_id"]: r.asDict() for r in QR.c4_clean(df).collect()}
    assert out["1"]["clean_text"] == (
        "A good sentence stays here.\nAnother proper sentence ends now!"
    )
    assert out["1"]["n_lines_kept"] == 2 and out["1"]["n_lines_dropped"] == 2
    assert "2" not in out  # document left empty is dropped
    assert out["3"]["n_lines_kept"] == 2


def test_null_text_yields_zero_metrics_not_nulls(spark):
    df = spark.createDataFrame(
        [("n", None), ("ok", "the words and that have to be of here now.")],
        "doc_id string, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in QR.gopher_quality(df).collect()}
    assert out["n"]["n_words"] == 0 and out["n"]["gopher_pass"] is False
    assert all(v is not None for v in out["n"].values())
    cleaned = {r["doc_id"] for r in QR.c4_clean(df).collect()}
    assert cleaned == {"ok"}


def test_line_dedup_hand_values(spark):
    rows = [
        # "shared footer" appears in 3 docs -> dropped everywhere,
        # including BOTH occurrences in doc a (removal is by content,
        # not by first occurrence)
        ("a", "alpha text\nshared footer\nmiddle a\nshared footer"),
        ("b", "shared footer\nbeta text"),
        ("c", "gamma text\nshared footer"),
        # within-doc repeat only (df = 1 distinct doc) -> KEPT: corpus
        # line dedup must not eat document-local repetition (that is
        # gopher dup_line_frac's signal)
        ("d", "solo repeat\nsolo repeat\nother d"),
        # doc that is ONLY boilerplate -> removed entirely from output
        ("e", "shared footer"),
        ("f", None),  # NULL text -> no lines -> dropped
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = {r["doc_id"]: r.asDict() for r in QR.line_dedup(df).collect()}
    assert set(out) == {"a", "b", "c", "d"}
    assert out["a"]["clean_text"] == "alpha text\nmiddle a"
    assert out["a"]["n_lines_kept"] == 2
    assert out["a"]["n_lines_dropped"] == 2
    assert out["b"]["clean_text"] == "beta text"
    assert out["c"]["clean_text"] == "gamma text"
    assert out["d"]["clean_text"] == "solo repeat\nsolo repeat\nother d"
    assert out["d"]["n_lines_dropped"] == 0


def test_line_dedup_min_df(spark):
    rows = [
        ("a", "pairline\nown a"),
        ("b", "pairline\nown b"),
        ("c", "own c"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = {r["doc_id"]: r.asDict()
           for r in QR.line_dedup(df, min_df=3).collect()}
    # df=2 < min_df=3 -> nothing removed
    assert out["a"]["clean_text"] == "pairline\nown a"
    assert out["b"]["n_lines_dropped"] == 0


def test_line_dedup_plan_stays_native(spark):
    """No Python eval anywhere: count pass, drop-list pass and rewrite are
    all native expressions (the operator is usable inside whole-stage
    codegen pipelines at 100 TB)."""
    df = spark.createDataFrame([("d", "x\ny")], "doc_id string, text string")
    plan = QR.line_dedup(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_pii_scrub_hand_values(spark):
    rows = [
        ("a", "write to jane.doe+x@sub.example.org or call +1 (555) 010-4242"
              " from 192.168.0.1 ok"),
        # dotted-quad inside a mailbox domain is consumed by the EMAIL
        # pattern first (precedence), so it must not count as an IP
        ("b", "bob@1.2.3.4mail.com only"),
        ("c", "no pii here at all"),
        ("d", None),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = {r["doc_id"]: r.asDict() for r in QR.pii_scrub(df).collect()}
    a = out["a"]
    assert a["n_emails"] == 1 and a["n_phones"] == 1 and a["n_ips"] == 1
    assert a["clean_text"] == (
        "write to |||EMAIL||| or call |||PHONE||| from |||IP||| ok"
    )
    b = out["b"]
    assert b["n_emails"] == 1 and b["n_ips"] == 0
    assert b["clean_text"] == "|||EMAIL||| only"
    assert out["c"]["clean_text"] == "no pii here at all"
    assert out["c"]["n_emails"] == 0
    assert out["d"]["clean_text"] == ""


def test_pii_scrub_plan_stays_native(spark):
    df = spark.createDataFrame([("d", "x")], "doc_id string, text string")
    plan = QR.pii_scrub(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # per-row: no shuffle at all
    assert "BatchEvalPython" not in plan


def test_top_ngram_hand_values(spark):
    rows = [
        ("ab", "a b a b a b"),
        ("short", "hello"),
        ("empty", ""),
        ("null", None),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = {r["doc_id"]: r.asDict()
           for r in QR.top_ngram_metrics(df).collect()}
    ab = out["ab"]
    # content = "a b a b a b" (11 chars); 2-grams: "a b"x3, "b a"x2
    # -> top mass 3*3=9; 3-grams tie at cnt 2 ("a b a", "b a b", both
    # len 5) -> mass 10; 4-grams: "a b a b"x2 (len 7) -> 14
    assert ab["top_2gram_char_frac"] == round(9 / 11, 6)
    assert ab["top_3gram_char_frac"] == round(10 / 11, 6)
    assert ab["top_4gram_char_frac"] == round(14 / 11, 6)
    for d in ("short", "empty", "null"):
        assert out[d]["top_2gram_char_frac"] == 0.0
        assert out[d]["top_4gram_char_frac"] == 0.0


def test_top_ngram_tie_takes_larger_mass(spark):
    # "xx yy xx yy" vs "a b a b": cnt("xx yy")=2 == cnt("b a")... build a
    # clean tie: two 2-grams each with cnt 2, different char mass
    df = spark.createDataFrame(
        [("t", "aa bb aa bb cc d cc d")], "doc_id string, text string"
    )
    out = QR.top_ngram_metrics(df).collect()[0].asDict()
    # 2-grams: "aa bb"x2 (mass 10), "bb aa"x1, "bb cc"x1, "cc d"x2
    # (mass 8), "d cc"x1 -> tie on cnt 2 resolves to mass 10
    assert out["top_2gram_char_frac"] == round(10 / 21, 6)


def test_top_ngram_plan_stays_native(spark):
    df = spark.createDataFrame([("d", "x y")], "doc_id string, text string")
    plan = (QR.top_ngram_metrics(df)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_line_dedup_fuzz_vs_python(spark):
    """Differential test: Spark line_dedup == a direct pure-python
    computation on a seeded 200-doc corpus with planted shared lines."""
    import random

    rng = random.Random(20260817)
    pool = [f"shared line {i}" for i in range(12)]
    docs = []
    for d in range(200):
        lines = [f"own {d} {j} {rng.randint(0, 9)}"
                 for j in range(rng.randint(0, 5))]
        for _ in range(rng.randint(0, 3)):
            lines.insert(rng.randint(0, len(lines)), rng.choice(pool))
        docs.append((str(d), "\n".join(lines)))

    # pure-python reference
    from collections import Counter
    df_counts = Counter()
    for _, text in docs:
        seen = {l for l in text.split("\n") if l}
        df_counts.update(seen)
    dup = {l for l, c in df_counts.items() if c >= 2}
    expected = {}
    for doc_id, text in docs:
        lines = [l for l in text.split("\n") if l]
        kept = [l for l in lines if l not in dup]
        if kept:
            expected[doc_id] = ("\n".join(kept), len(kept),
                                len(lines) - len(kept))

    sdf = spark.createDataFrame(docs, "doc_id string, text string")
    got = {
        r["doc_id"]: (r["clean_text"], r["n_lines_kept"],
                      r["n_lines_dropped"])
        for r in QR.line_dedup(sdf).collect()
    }
    assert got == expected


def test_top_ngram_fuzz_vs_python(spark):
    """Differential test: the per-row run-length scan == a direct python
    Counter over the same grams, including the (count, mass) tie rule."""
    import random
    from collections import Counter

    rng = random.Random(42)
    vocab = ["a", "bb", "ccc", "dd", "e"]
    docs = [
        (str(d),
         " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 30))))
        for d in range(150)
    ]

    def py_frac(text, n):
        words = [w for w in text.lower().split() if w]
        content_len = len(" ".join(words))
        if content_len == 0 or len(words) < n:
            return 0.0
        grams = [" ".join(words[i:i + n])
                 for i in range(len(words) - n + 1)]
        cnt = Counter(grams)
        best = max(cnt.items(), key=lambda kv: (kv[1], kv[1] * len(kv[0])))
        return round(best[1] * len(best[0]) / content_len, 6)

    sdf = spark.createDataFrame(docs, "doc_id string, text string")
    got = {r["doc_id"]: r.asDict()
           for r in QR.top_ngram_metrics(sdf).collect()}
    for doc_id, text in docs:
        for n in (2, 3, 4):
            assert got[doc_id][f"top_{n}gram_char_frac"] == py_frac(text, n), (
                doc_id, n, text)


def test_dup_ngram_coverage_hand_values(spark):
    rows = [
        # (a b c d e) repeats at word 0 and 5 -> two 9-char spans out of
        # the 21-char content; no 6-gram repeats
        ("rep5", "a b c d e a b c d e x"),
        # overlapping occurrences of (a a a a a) at 0 and 1 union to
        # words 0-5 = 11 chars of 13
        ("overlap", "a a a a a a b"),
        ("short", "tiny doc"),
        ("null", None),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = {r["doc_id"]: r.asDict()
           for r in QR.dup_ngram_coverage(df).collect()}
    r5 = out["rep5"]
    assert r5["dup_5gram_char_frac"] == round(18 / 21, 6)
    assert r5["dup_6gram_char_frac"] == 0.0
    assert r5["dup_10gram_char_frac"] == 0.0
    ov = out["overlap"]
    assert ov["dup_5gram_char_frac"] == round(11 / 13, 6)
    assert ov["dup_6gram_char_frac"] == 0.0
    for d in ("short", "null"):
        for n in (5, 10):
            assert out[d][f"dup_{n}gram_char_frac"] == 0.0


def test_dup_ngram_coverage_no_shuffle(spark):
    df = spark.createDataFrame([("d", "x y")], "doc_id string, text string")
    plan = (QR.dup_ngram_coverage(df)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan  # document-local: mapInPandas only


# --- FineWeb/C4 line-shape gates -------------------------------------


def _fineweb(spark, rows):
    df = spark.createDataFrame(rows, "doc_id string, text string")
    return {r["doc_id"]: r.asDict()
            for r in QR.fineweb_quality(df).collect()}


def test_fineweb_hand_values(spark):
    out = _fineweb(spark, [
        # 3 lines, all punct-terminated and >= 30 chars, 3 sentences
        ("clean", "This is a perfectly fine opening line of prose.\n"
                  "It continues with a second full sentence here.\n"
                  "And it closes with a third complete sentence."),
        # 1 of 4 lines punct-terminated; 3 of 4 short
        ("listy", "item one\nitem two\nitem three\n"
                  "the only real sentence in this document ends here."),
        ("code", "function f() {\n  return 1;\n}"),
        ("boiler", "Lorem Ipsum dolor sit amet. And more. And more."),
        ("empty", ""),
        ("null", None),
    ])
    clean = out["clean"]
    assert clean["n_lines"] == 3
    assert clean["punct_line_frac"] == 1.0
    assert clean["short_line_frac"] == 0.0
    assert clean["n_sentences"] == 3
    assert clean["fineweb_pass"]

    listy = out["listy"]
    assert listy["punct_line_frac"] == 0.25
    assert listy["short_line_frac"] == 0.75
    assert not listy["fineweb_pass"]  # short_line_frac > 0.67

    assert out["code"]["has_curly"] and not out["code"]["fineweb_pass"]
    b = out["boiler"]
    assert b["has_lorem"] and not b["fineweb_pass"]  # case-insensitive

    for d in ("empty", "null"):
        e = out[d]
        assert e["n_lines"] == 0 and e["punct_line_frac"] == 0.0
        assert e["n_sentences"] == 0 and not e["fineweb_pass"]


def test_fineweb_terminal_punct_variants(spark):
    # quote / curly-apostrophe / trailing-space terminals all count;
    # comma does not
    out = _fineweb(spark, [
        ("quoted", 'He said "stop."\nShe replied ’\nmaybe later,'),
        ("spaced", "Ends with punct then spaces.   \nno terminal"),
    ])
    q = out["quoted"]
    assert q["punct_line_frac"] == round(2 / 3, 6)
    s = out["spaced"]
    assert s["punct_line_frac"] == 0.5  # Java \s*$ crosses the spaces


def test_fineweb_plan_zero_exchange(spark):
    df = spark.createDataFrame([("d", "x.\ny.")],
                               "doc_id string, text string")
    plan = (QR.fineweb_quality(df)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_fineweb_fuzz_vs_python(spark):
    """Differential: the Spark expressions vs an independent pure-Python
    reimplementation over adversarial small docs."""
    import random
    import re

    rng = random.Random(606)
    vocab = ["word", "line.", "x", "{", "lorem ipsum", "Ok!", "why?",
             "end’", "a" * 35 + ".", "", " ", "no stop"]
    docs = []
    for i in range(60):
        n = rng.randrange(0, 8)
        docs.append((f"d{i}", "\n".join(
            " ".join(rng.choice(vocab)
                     for _ in range(rng.randrange(0, 5)))
            for _ in range(n))))

    def py_row(text):
        t = text or ""
        lines = [l for l in t.split("\n") if l != ""]
        nl = len(lines)
        punct = (round(sum(
            1 for l in lines
            if re.search(r'[.!?"’]\s*$', l)) / nl, 6) if nl else 0.0)
        short = (round(sum(1 for l in lines if len(l) < 30) / nl, 6)
                 if nl else 0.0)
        return {
            "n_lines": nl, "punct_line_frac": punct,
            "short_line_frac": short, "has_curly": "{" in t,
            "has_lorem": "lorem ipsum" in t.lower(),
            "n_sentences": len(re.findall(r"[.!?]+", t)),
        }

    got = _fineweb(spark, docs)
    for doc_id, text in docs:
        want = py_row(text)
        for k, v in want.items():
            assert got[doc_id][k] == v, (doc_id, k, text)


# ---------------------------------------------------------------------------
# substring_dedup (Lee et al. EXACTSUBSTR at word granularity)
# ---------------------------------------------------------------------------


def _substr(spark, rows, **kw):
    df = spark.createDataFrame(rows, "doc_id string, text string")
    return {
        r["doc_id"]: r for r in QR.substring_dedup(df, **kw).collect()
    }


def test_substring_dedup_cross_doc(spark):
    out = _substr(
        spark,
        [("d1", "x1 x2 c d e f x3 x4"), ("d2", "y1 c d e f y2")],
        n=4,
    )
    assert out["d1"]["clean_text"] == "x1 x2 x3 x4"
    assert out["d1"]["n_words_removed"] == 4
    assert out["d1"]["n_dup_grams"] == 1
    assert out["d2"]["clean_text"] == "y1 y2"
    assert out["d2"]["n_words_removed"] == 4


def test_substring_dedup_within_doc(spark):
    out = _substr(spark, [("d3", "p q r s t p q r s u")], n=4)
    # 'p q r s' occurs twice inside one doc -> both occurrences cut
    assert out["d3"]["clean_text"] == "t u"
    assert out["d3"]["n_words_removed"] == 8
    assert out["d3"]["n_dup_grams"] == 2


def test_substring_dedup_untouched_rows_survive(spark):
    out = _substr(
        spark,
        [("a", "unique words only here today"), ("b", "w1 w2"), ("c", "")],
        n=4,
    )
    assert out["a"]["clean_text"] == "unique words only here today"
    assert out["a"]["n_words_removed"] == 0 and out["a"]["n_dup_grams"] == 0
    # shorter than n: no grams, text unchanged
    assert out["b"]["clean_text"] == "w1 w2" and out["b"]["n_words"] == 2
    assert out["c"]["clean_text"] == "" and out["c"]["n_words"] == 0


def test_substring_dedup_full_coverage_keeps_row(spark):
    out = _substr(spark, [("e1", "m n o p"), ("e2", "m n o p")], n=4)
    for d in ("e1", "e2"):
        assert out[d]["clean_text"] == ""
        assert out[d]["n_words_removed"] == 4
        assert out[d]["n_words"] == 4


def test_substring_dedup_overlapping_grams_union(spark):
    # shared 5-word run with n=4 -> two overlapping dup grams, union 5
    out = _substr(
        spark,
        [("f1", "a b c d e tail1 tailx"), ("f2", "head1 a b c d e")],
        n=4,
    )
    assert out["f1"]["clean_text"] == "tail1 tailx"
    assert out["f1"]["n_words_removed"] == 5
    assert out["f1"]["n_dup_grams"] == 2


# ------------------------------------------------------------ lexical stats


def test_lexical_stats_matches_math(spark):
    import math

    rows = [
        (1, "a a a a"),           # zero entropy, ttr 0.25
        (2, "a b c d"),           # max entropy ln(4), ttr 1.0
        (3, "x x y"),             # H = ln(3) - (2 ln 2)/3
        (4, ""),                  # dropped
        (5, None),                # dropped
        (6, "  Mixed   CASE mixed case  "),  # lowercased, ttr 0.5
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from wordscape_spark.operators import quality_rules as QR

    got = {r["doc_id"]: r.asDict() for r in QR.lexical_stats(df).collect()}
    assert set(got) == {1, 2, 3, 6}
    assert got[1]["n_words"] == 4 and got[1]["n_unique"] == 1
    assert got[1]["entropy"] == 0.0 and got[1]["ttr"] == 0.25
    assert got[2]["entropy"] == round(math.log(4), 6)
    assert got[2]["ttr"] == 1.0
    assert got[3]["entropy"] == round(
        math.log(3) - (2 * math.log(2)) / 3, 6
    )
    assert got[6]["n_words"] == 4 and got[6]["n_unique"] == 2


def test_lexical_stats_entropy_is_the_direct_sum(spark):
    """The run-length scan adds one ``c*ln(c)`` per distinct word, as the
    oracle's direct sum does, so the unrounded entropy of a highly
    repetitive doc matches Python's direct sum to 1e-12.  (A sum that
    telescopes ``run*ln(run) - (run-1)*ln(run-1)`` per word drifts by
    ~1.3e-12 on 200,000 copies of one word.)"""
    import math
    from collections import Counter

    docs = ["spam " * 200_000, "buy now " * 60_000 + "cheap " * 30_001]
    df = spark.createDataFrame([(d,) for d in docs], "text string")
    s = QR._word_count_log_sum("words")
    got = (
        df.select(F.split(F.trim("text"), " ").alias("words"))
        .select(F.expr(f"ln(size(words)) - {s} / size(words)").alias("h"))
        .collect()
    )
    for doc, row in zip(docs, got):
        words = doc.split()
        n = len(words)
        want = math.log(n) - sum(
            c * math.log(c) for c in Counter(words).values()
        ) / n
        assert abs(row["h"] - want) <= 1e-12, (row["h"], want)


def test_lexical_stats_plan_no_exchange(spark):
    from wordscape_spark.operators import quality_rules as QR

    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    plan = (
        QR.lexical_stats(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
