"""The hybrid (Python-counts + SQL-ratios) metric/langid operators must be
bit-identical to the pure-SQL expression forms — including NULL text, java
\\s edge characters, case-mapping oddities, and astral input."""

import pyspark.sql.functions as F

from wordscape_spark import datagen
from wordscape_spark.operators import text as T

ADVERSARIAL = [
    ("n1", None),
    ("e1", ""),
    ("s1", " "),
    ("s2", "   "),
    ("w1", "the and of la le und der die"),
    ("nb1", "the\xa0and"),          # NBSP is NOT java \s
    ("vt", "the\x0band\fof"),        # \x0b and \f ARE java \s
    ("nel", "x\x85y"),
    ("up", "THE AND OF"),
    ("mix", "  the  "),
    ("tr", "the "),
    ("p1", "...."),
    ("p2", "a....b __ c"),
    ("punct_only", "!@#$%^&*()"),
    ("digits", "123 456  789"),
    ("as1", "héllo wörld ÀÖØöøÿ 123"),
    ("cyr", "Привет the мир"),       # letters outside the 114-char set
    ("astral", "a\U0001F600b \U0001F600\U0001F600 c"),
    ("kelvin", "King the"),
    ("turk", "İstanbul the"),
    ("nul1", "\x00a\x00 b"),           # NUL: a text char, not a separator
    ("nul2", "a \x00"),
]


def _adversarial_df(spark):
    return spark.createDataFrame(ADVERSARIAL, "doc_id string, text string")


def _corpus(spark):
    datagen.ensure_interleaved(0.001)
    return spark.read.parquet("/root/testdata/sf0.01/documents.parquet").selectExpr(
        "CAST(doc_id AS STRING) AS doc_id", "text"
    )


def test_with_metrics_matches_sql_form(spark):
    cols = ["doc_id"] + list(T.metrics_exprs("text", "spark").keys())

    def sql_form(df):
        for name, expr in T.metrics_exprs("text", "spark").items():
            df = df.withColumn(name, F.expr(expr))
        return df

    for df in (_corpus(spark), _adversarial_df(spark)):
        a = sorted(map(tuple, sql_form(df).select(cols).collect()))
        b = sorted(map(tuple, T.with_metrics(df).select(cols).collect()))
        assert a == b


def test_with_langid_matches_sql_form(spark):
    cols = (
        ["doc_id"]
        + [f"score_{lang}" for lang in T.LANGS]
        + ["top_lang", "top_lang_score", "languages_topk"]
    )

    def sql_form(df, col="text"):
        for name, expr in T.langid_exprs(col, "spark").items():
            df = df.withColumn(name, F.expr(expr))
        return df.withColumn("languages_topk", F.expr(T.langid_topk_expr("spark")))

    for df in (_corpus(spark), _adversarial_df(spark)):
        a = sorted(map(tuple, sql_form(df).select(cols).collect()))
        b = sorted(map(tuple, T.with_langid(df).select(cols).collect()))
        assert a == b


def test_with_whitelist_metrics_matches_sql_form(spark):
    from wordscape_spark.operators import filters as FL

    def sql_form(df, col="text"):
        return df.withColumn(
            "pseudo_perplexity", F.expr(FL.pseudo_perplexity_expr(col, "spark"))
        ).withColumn("quality", F.expr(T.alnum_prop_expr(col, "spark")))

    cols = ["doc_id", "pseudo_perplexity", "quality"]
    for df in (_corpus(spark), _adversarial_df(spark)):
        a = sorted(map(tuple, sql_form(df).select(cols).collect()))
        b = sorted(
            map(tuple, FL.with_whitelist_metrics(df).select(cols).collect())
        )
        assert a == b


def test_batch_over_the_char_cap_matches_sql_form(spark):
    """One Arrow batch whose texts total more than the kernel's char cap
    (so it runs in sub-batches) keeps the SQL form's results."""
    import pyarrow as pa

    from wordscape_spark.core import classify as C
    from wordscape_spark.operators import filters as FL

    pattern = "the 12 ÀÖ,  b\t\x0b!.\x00 "  # 24 chars
    reps = C._TM_BATCH_CHAR_CAP // len(pattern) // 3 + 1
    df = (
        spark.createDataFrame(
            [("a", pattern, reps), ("b", " x" + pattern, reps),
             ("c", pattern + "9", reps), ("d", " tiny ", 1), ("n", None, 1)],
            "doc_id string, p string, r int",
        )
        .selectExpr("doc_id", "repeat(p, r) AS text")
        .coalesce(1)
    )

    def batch_chars(batches):
        for b in batches:
            n = sum(len(t) for t in b.column(1).to_pylist() if t)
            yield pa.RecordBatch.from_pydict({"n": [n]})

    sizes = [r.n for r in df.mapInArrow(batch_chars, "n long").collect()]
    assert len(sizes) == 1 and sizes[0] > C._TM_BATCH_CHAR_CAP

    def sql_form(df, col="text"):
        for name, expr in T.metrics_exprs(col, "spark").items():
            df = df.withColumn(name, F.expr(expr))
        return df.withColumn(
            "pseudo_perplexity", F.expr(FL.pseudo_perplexity_expr(col, "spark"))
        ).withColumn("quality", F.expr(T.alnum_prop_expr(col, "spark")))

    cols = (
        ["doc_id"] + list(T.metrics_exprs("text", "spark"))
        + ["pseudo_perplexity", "quality"]
    )
    hybrid = FL.with_whitelist_metrics(T.with_metrics(df))
    a = sorted(map(tuple, sql_form(df).select(cols).collect()))
    b = sorted(map(tuple, hybrid.select(cols).collect()))
    assert a == b


def test_one_segment_count_kernel():
    """The utf-32 decode and the segment sums live in one module, so a
    second copy of the count pass cannot land unnoticed."""
    import pathlib

    import wordscape_spark

    pkg = pathlib.Path(wordscape_spark.__file__).parent
    holders = {
        p.relative_to(pkg).as_posix()
        for p in pkg.rglob("*.py")
        for needle in ("reduceat(", '"utf-32')
        if needle in p.read_text()
    }
    assert holders == {"core/classify.py"}
