"""Quality-gate filters (E7/E8) — per-language percentile gates.

Reference: /root/reference/app/utilities/run_whitelist_pages.py:9-153 —
docs are dropped when quality < median, perplexity > per-language 80th
percentile, language unknown/low-confidence; pages with no entities or only
headings are dropped.

Here the thresholds are computed with exact interpolated percentiles
(`percentile()` in Spark ⇔ `quantile_cont` in DuckDB — identical linear
interpolation), grouped per language and broadcast-joined back: two narrow
shuffles of one row per language, never a window over the full table.

The sandbox has no KenLM; `pseudo_perplexity` is a deterministic surrogate
with the same operator shape (per-language score column + percentile gate):
average token length of the text (ref analog: perplexity.py:13-55).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from wordscape_spark.core import classify as C
from wordscape_spark.operators.text import _mb_luts, count_columns


PERCENTILE_ACCURACY = 100_000


def percentile_expr(col: str, p: float, dialect: str) -> str:
    """Discrete percentile, 6dp-rounded, identical in both engines.

    Spark side is ``percentile_approx`` (GK sketch): exact whenever the
    group holds fewer than PERCENTILE_ACCURACY values — verified bit-equal
    to DuckDB ``quantile_disc`` at test scale — and bounded-memory at
    10^12 rows, where Spark's exact ``percentile()`` would buffer every
    value of the group in executor memory (OOM at scale).  Error bound at
    scale: 1/accuracy in quantile rank.
    """
    if dialect == "spark":
        return f"round(percentile_approx({col}, {p}, {PERCENTILE_ACCURACY}), 6)"
    return f"round(quantile_disc({col}, {p}), 6)"


def pseudo_perplexity_expr(col: str, dialect: str) -> str:
    if dialect == "spark":
        # token count without materializing the token array: n separator
        # runs ⇔ n+1 tokens on trimmed (no leading/trailing \s) text —
        # identical integer to size(split(trim(col), '\s+')), measurably
        # cheaper on long documents
        ntok = f"(regexp_count(trim({col}), '\\\\s+') + 1)"
    else:
        ntok = f"len(regexp_split_to_array(trim({col}), '\\s+'))"
    return (
        f"CAST(CASE WHEN length(trim({col})) = 0 THEN 0.0 "
        f"ELSE round(length({col}) * 1.0 / {ntok}, 6) END AS DOUBLE)"
    )


def _whitelist_counts(texts: list[str]) -> tuple:
    alpha, digit, _punct, _nonws, ws = _mb_luts()
    trimmed = [t.strip(" ") for t in texts]  # SQL trim(): spaces only
    ntrim, n_alph, n_num, wsruns, _ = C.segment_counts(
        trimmed, (alpha, digit), None, ws
    )
    return [len(t) for t in texts], ntrim, wsruns, n_alph, n_num


def with_whitelist_metrics(df: DataFrame, col: str = "text") -> DataFrame:
    """``pseudo_perplexity`` + ``quality`` (alnum_prop) columns,
    bit-identical to ``pseudo_perplexity_expr`` / ``alnum_prop_expr``.

    Same hybrid shape as ``text.with_metrics``: the INTEGER inputs (char
    count, trimmed length, java-``\\s`` run count over the trimmed text,
    letter/digit counts from the SQL's literal alphabets) come from one
    ``C.segment_counts`` pass per Arrow batch, appended by
    ``text.count_columns``; the rounded ratios keep the exact SQL
    expressions over those integers (pinned by test).  The JVM previously
    paid two translate passes plus trim+regexp_count per row — twice,
    because this frame feeds both the threshold aggregate and the filtered
    output."""
    tmp = ["_wm_nchars", "_wm_ntrim", "_wm_wsruns", "_wm_alph", "_wm_num"]
    df = count_columns(df, col, tmp, _whitelist_counts)
    df = df.withColumn(
        "pseudo_perplexity",
        F.expr(
            "CAST(CASE WHEN _wm_ntrim = 0 THEN 0.0 "
            "ELSE round(_wm_nchars * 1.0 / (_wm_wsruns + 1), 6) END "
            "AS DOUBLE)"
        ),
    )
    df = df.withColumn(
        "quality",
        F.expr(
            "CAST(CASE WHEN _wm_nchars = 0 THEN 0.0 "
            "ELSE round((_wm_alph + _wm_num) * 1.0 / _wm_nchars, 6) END "
            "AS DOUBLE)"
        ),
    )
    return df.drop(*tmp)


def doc_whitelist(
    df: DataFrame,
    lang_col: str = "lang",
    quality_col: str = "quality",
    ppl_col: str = "pseudo_perplexity",
    lang_conf_col: str | None = None,
) -> DataFrame:
    """E7: keep docs with quality ≥ per-language median AND pseudo-perplexity
    ≤ per-language 80th percentile (and known language)."""
    thresholds = df.groupBy(lang_col).agg(
        F.expr(percentile_expr(quality_col, 0.5, "spark")).alias("q_median"),
        F.expr(percentile_expr(ppl_col, 0.8, "spark")).alias("ppl_p80"),
    )
    out = (
        df.join(F.broadcast(thresholds), lang_col)
        .filter(
            (F.col(quality_col) >= F.col("q_median"))
            & (F.col(ppl_col) <= F.col("ppl_p80"))
            & (F.col(lang_col) != "unknown")
        )
        .drop("q_median", "ppl_p80")
    )
    if lang_conf_col is not None:
        out = out.filter(F.col(lang_conf_col) > 0.5)
    return out


def page_filter(meta: DataFrame) -> DataFrame:
    """E8 analog at doc granularity: must have words, must have entities,
    must not consist solely of headings.  (True page-level gates live in
    ``whitelist_pages`` below.)"""
    heading_kinds = [f"heading_{i}" for i in range(1, 10)] + ["title"]
    heading_sum = " + ".join(
        f"coalesce(element_at(counts, '{k}'), 0L)" for k in heading_kinds
    )
    total = (
        "aggregate(map_values(counts), 0L, (acc, x) -> acc + x)"
    )
    return meta.filter(F.col("num_words") > 0).filter(
        F.expr(f"({total}) > 0")
    ).filter(F.expr(f"({total}) - ({heading_sum}) > 0"))


# ---------------------------------------------------------------------------
# true page-level whitelist (E8) + member-intersection application (E9)
# ---------------------------------------------------------------------------

# the reference's "only headings" page filter counts ONLY num_heading_1..9 as
# headings — num_title is a non-heading column there
# (run_whitelist_pages.py:124-141)
_PAGE_HEADING_KINDS = tuple(f"heading_{i}" for i in range(1, 10))
LANG_PRED_THRESHOLD = 0.5  # ref: run_whitelist_pages.py:12


def page_features(pages: DataFrame) -> DataFrame:
    """num_words / n_entities / n_heading per exploded page record — all
    native expressions over (page_text, page_counts), no Python."""
    from wordscape_spark.operators.text import metrics_exprs

    words = metrics_exprs("page_text", "spark")["num_words"]
    heading_sum = " + ".join(
        f"coalesce(element_at(page_counts, '{k}'), 0L)"
        for k in _PAGE_HEADING_KINDS
    )
    total = "aggregate(map_values(page_counts), 0L, (acc, x) -> acc + x)"
    return (
        pages.withColumn("num_words", F.expr(words))
        .withColumn("n_entities", F.expr(f"CAST({total} AS BIGINT)"))
        .withColumn("n_heading", F.expr(f"CAST(({heading_sum}) AS BIGINT)"))
    )


def whitelist_pages(
    extracted: DataFrame, lang_threshold: float = LANG_PRED_THRESHOLD
) -> DataFrame:
    """E8: the full page whitelist (ref: run_whitelist_pages.py:55-153).

    Document gates (blacklist): annotation quality < global median,
    pseudo-perplexity > per-language 80th percentile, unknown top language.
    Page gates: no words, no entities, only headings, low page-language
    confidence (> LANG_PRED_THRESHOLD kept).

    Shape at scale: the doc gates shuffle one row per language (threshold
    aggregates broadcast back); the page stage is an explode + per-row
    filters — no page-level shuffle at all.
    """
    from wordscape_spark.operators.extract import page_meta
    from wordscape_spark.operators.langid_trigram import (
        UNKNOWN,
        with_trigram_langid,
    )

    docs = extracted.filter("ok").select("doc_id", "text", "quality")
    docs = docs.withColumn(
        "ppl", F.expr(pseudo_perplexity_expr("text", "spark"))
    )
    docs = with_trigram_langid(docs)  # doc-level language (trigram model)
    med = docs.agg(
        F.expr(percentile_expr("quality", 0.5, "spark")).alias("q_med")
    )
    th = docs.groupBy("top_lang").agg(
        F.expr(percentile_expr("ppl", 0.8, "spark")).alias("ppl_p80")
    )
    keep_docs = (
        docs.crossJoin(F.broadcast(med))
        .join(F.broadcast(th), "top_lang")
        .filter(
            (F.col("quality") >= F.col("q_med"))
            & (F.col("ppl") <= F.col("ppl_p80"))
            & (F.col("top_lang") != UNKNOWN)
        )
        .select("doc_id")
    )

    pages = page_features(page_meta(extracted)).join(
        keep_docs, "doc_id", "left_semi"
    )
    pages = with_trigram_langid(pages, text_col="page_text")
    return (
        pages.filter("num_words > 0")
        .filter("n_entities > 0")
        .filter("NOT (n_heading > 0 AND n_entities - n_heading = 0)")
        .filter(F.col("top_lang_score") > lang_threshold)
        .select("doc_id", "page_number")
    )


def page_member_intersection(pages: DataFrame) -> DataFrame:
    """E9 part 1 (ref: run_filter_tars.py:35-55): a page is applicable only
    when all four artifact member sets contain it — renderings (every page),
    text members, entity members, word members.

    (doc_id, page_number) is unique per page row, so the four-set
    intersection collapses to one conjunctive filter over a single scan —
    zero shuffles, where four projections + three ``intersect`` s would cost
    4 scans and 3 shuffle-dedups at 100× scale.  The set formulation is kept
    verbatim in the DuckDB oracle as the independent twin."""
    feats = page_features(pages)
    return feats.filter(
        "length(page_text) > 0 AND n_entities > 0 AND num_words > 0"
    ).select("doc_id", "page_number")


def apply_page_whitelist(
    extracted: DataFrame, lang_threshold: float = LANG_PRED_THRESHOLD
) -> DataFrame:
    """E9: member intersection ∩ whitelist — the filtered release set
    (run_filter_tars.py:20-85 as a distributed semi-join, no tar scans)."""
    from wordscape_spark.operators.extract import page_meta

    members = page_member_intersection(page_meta(extracted))
    wl = whitelist_pages(extracted, lang_threshold)
    return members.join(wl, ["doc_id", "page_number"], "left_semi")


def ccnet_buckets(
    df: DataFrame,
    lang_col: str = "lang",
    ppl_col: str = "pseudo_perplexity",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style per-language perplexity bucketing (Wenzek et al.
    2020, "CCNet: Extracting High Quality Monolingual Datasets from
    Web Crawl Data", §4.3): each language's documents split at the
    1/3 and 2/3 perplexity terciles into head / middle / tail — the
    released CommonCrawl quality strata.

    Same scale shape as :func:`doc_whitelist`: one bounded-memory
    percentile aggregation (GK sketch) to ONE row per language,
    broadcast back — the corpus itself never re-shuffles and there is
    no per-language window sort.

    Returns (doc_id, lang, ppl, bucket)."""
    th = df.groupBy(lang_col).agg(
        F.expr(percentile_expr(ppl_col, 1 / 3, "spark")).alias("t1"),
        F.expr(percentile_expr(ppl_col, 2 / 3, "spark")).alias("t2"),
    )
    return (
        df.join(F.broadcast(th), lang_col)
        .select(
            F.col(id_col).alias("doc_id"),
            F.col(lang_col).alias("lang"),
            F.col(ppl_col).alias("ppl"),
            F.expr(
                f"CASE WHEN {ppl_col} <= t1 THEN 'head' "
                f"WHEN {ppl_col} <= t2 THEN 'middle' "
                "ELSE 'tail' END"
            ).alias("bucket"),
        )
    )
