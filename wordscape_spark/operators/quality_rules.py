"""Gopher/C4-style document quality rules — repetition and composition
filters for large-scale training-data curation.

Public provenance: the rule battery follows Rae et al. 2021 ("Scaling
Language Models: ... Gopher", §A1.1 quality filtering), Raffel et al.
2020 (C4 cleaning heuristics), CCNet/RefinedWeb (corpus-level line
dedup) and Dolma (PII scrubbing).  It complements the reference's
whitelist gates (E7/E8 — quality-score/perplexity percentiles per
language) with the content-shape rules a 100 TB curation run applies
FIRST.  Every metric is a native Spark SQL expression inside whole-stage
codegen with an identical DuckDB-dialect formulation — except
``dup_ngram_coverage``, whose interval-union semantics run on the
Arrow-batched ``map_rows`` path with an independently-derived relational
oracle.

Metrics (per document, over whitespace words and newline lines):

* ``n_words``, ``mean_word_len`` — Gopher keeps 50..100k words, mean word
  length 3..10;
* ``stop_word_count`` — ≥ 2 of a small English stop set (the "has real
  sentences" proxy);
* ``alpha_word_frac`` — fraction of words containing at least one
  alphabetic character (Gopher ≥ 0.8);
* ``symbol_word_ratio`` — (# + … + ...) per word (Gopher ≤ 0.1);
* ``bullet_line_frac`` / ``ellipsis_line_frac`` — lines starting with a
  bullet (≤ 0.9) / ending in an ellipsis (≤ 0.3);
* ``dup_line_frac`` / ``dup_line_char_frac`` — fraction of non-empty
  lines that are exact duplicates of another line in the SAME document,
  by count (≤ 0.3) and by character mass (≤ 0.2) — the document-local
  repetition signals (corpus-level dedup is operators/dedup.py's job);
* ``gopher_pass`` — the conjunction, with the word-count band widened to
  the synthetic corpus (min_words configurable).

Scale notes: EVERY metric — including the dup-line pair — is a per-row
expression: the dup-line counts are a run-length scan over the sorted
lines array (the same 4-field ``aggregate`` state machine as
``top_ngram_metrics``), so the whole Gopher battery runs with zero
Exchange.  The pre-r6 formulation exploded lines and re-aggregated per
(doc_id, line) — a shuffle that carried every distinct line's full text
to compute a document-local fraction; pinned out by
tests/test_quality_rules.py::test_gopher_plan_zero_exchange.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

STOP_WORDS = ("the", "be", "to", "of", "and", "that", "have", "with")

# thresholds (Gopher §A1.1; word band adapted to corpus scale)
MAX_MEAN_WORD_LEN = 10.0
MIN_MEAN_WORD_LEN = 3.0
MAX_SYMBOL_WORD_RATIO = 0.1
MAX_BULLET_LINE_FRAC = 0.9
MAX_ELLIPSIS_LINE_FRAC = 0.3
MIN_ALPHA_WORD_FRAC = 0.8
MIN_STOP_WORDS = 2
MAX_DUP_LINE_FRAC = 0.3
MAX_DUP_LINE_CHAR_FRAC = 0.2


def _count_occurrences(col: str, needle: str) -> F.Column:
    """Occurrences of a literal substring — (len(text) - len(removed)) /
    len(needle), identical in both dialects."""
    return (
        (F.length(col) - F.length(F.replace(F.col(col), F.lit(needle))))
        / len(needle)
    ).cast("long")


def _dup_line_stats(lines_col: str) -> str:
    """SQL expr: struct(dcnt, dchars, chars) over a non-empty-lines array —
    duplicate-line count / char mass / total char mass via one run-length
    scan over the SORTED array (the ``top_ngram_metrics`` state-machine
    shape): when a line's run reaches 2 both members of the new duplicate
    group count, past 2 each further repeat counts once.  O(L log L) per
    row, zero Exchange — the corpus' line text never leaves its row."""
    run = "IF(x = a.prev, a.run + 1L, 1L)"
    return (
        f"aggregate(array_sort({lines_col}), "
        "named_struct('prev', CAST('' AS STRING), 'run', 0L, "
        "'dcnt', 0L, 'dchars', 0L, 'chars', 0L), "
        "(a, x) -> named_struct("
        "'prev', x, "
        f"'run', {run}, "
        f"'dcnt', a.dcnt + CASE WHEN {run} = 2L THEN 2L "
        f"WHEN {run} > 2L THEN 1L ELSE 0L END, "
        f"'dchars', a.dchars + CASE WHEN {run} = 2L THEN 2L * length(x) "
        f"WHEN {run} > 2L THEN CAST(length(x) AS BIGINT) ELSE 0L END, "
        "'chars', a.chars + length(x)), "
        "a -> named_struct('dcnt', a.dcnt, 'dchars', a.dchars, "
        "'chars', a.chars))"
    )


def word_metrics(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-row word/line composition + dup-line metrics (no shuffle).

    ``keep_cols`` passes extra input columns through unchanged, so a
    pipeline can gate on the metrics without a join back to the corpus."""
    words = F.expr("filter(split(lower(t), '\\\\s+'), w -> w != '')")
    lines = F.expr("filter(split(t, '\\n'), l -> l != '')")
    out = (
        df.select(
            F.col(id_col).alias("doc_id"),
            # NULL text must yield zero metrics, not NULL-poisoned rows
            F.coalesce(F.col(text_col), F.lit("")).alias("t"),
            *keep_cols,
        )
        .withColumn("words", words)
        .withColumn("lines", lines)
        .withColumn("n_words", F.size("words").cast("long"))
        .withColumn("n_lines", F.size("lines").cast("long"))
        .withColumn(
            "mean_word_len",
            F.round(
                F.when(
                    F.col("n_words") > 0,
                    F.aggregate(
                        "words", F.lit(0).cast("long"),
                        lambda acc, w: acc + F.length(w),
                    ) / F.col("n_words"),
                ).otherwise(F.lit(0.0)),
                6,
            ),
        )
        .withColumn(
            "stop_word_count",
            F.size(
                F.expr(
                    "filter(words, w -> w IN ("
                    + ", ".join(f"'{s}'" for s in STOP_WORDS)
                    + "))"
                )
            ).cast("long"),
        )
        .withColumn(
            "alpha_word_frac",
            F.round(
                F.when(
                    F.col("n_words") > 0,
                    F.size(
                        F.expr("filter(words, w -> w rlike '[a-z]')")
                    ) / F.col("n_words"),
                ).otherwise(F.lit(0.0)),
                6,
            ),
        )
        .withColumn(
            "symbol_word_ratio",
            F.round(
                F.when(
                    F.col("n_words") > 0,
                    (
                        _count_occurrences("t", "#")
                        + _count_occurrences("t", "...")
                        + _count_occurrences("t", "…")
                    ) / F.col("n_words"),
                ).otherwise(F.lit(0.0)),
                6,
            ),
        )
        .withColumn(
            "bullet_line_frac",
            F.round(
                F.when(
                    F.col("n_lines") > 0,
                    F.size(
                        F.expr(
                            "filter(lines, l -> l rlike "
                            "'^\\\\s*[\\u2022\\\\-\\\\*]')"
                        )
                    ) / F.col("n_lines"),
                ).otherwise(F.lit(0.0)),
                6,
            ),
        )
        .withColumn(
            "ellipsis_line_frac",
            F.round(
                F.when(
                    F.col("n_lines") > 0,
                    F.size(
                        F.expr(
                            "filter(lines, l -> l rlike "
                            "'(\\\\.\\\\.\\\\.|\\u2026)\\\\s*$')"
                        )
                    ) / F.col("n_lines"),
                ).otherwise(F.lit(0.0)),
                6,
            ),
        )
        .withColumn("_dl", F.expr(_dup_line_stats("lines")))
        .withColumn(
            "dup_line_frac",
            F.expr(
                "CASE WHEN n_lines > 0 THEN"
                " round(CAST(_dl.dcnt AS DOUBLE) / n_lines, 6)"
                " ELSE 0.0 END"
            ),
        )
        .withColumn(
            "dup_line_char_frac",
            F.expr(
                "CASE WHEN _dl.chars > 0 THEN"
                " round(CAST(_dl.dchars AS DOUBLE) / _dl.chars, 6)"
                " ELSE 0.0 END"
            ),
        )
        .drop("words", "lines", "t", "_dl")
    )
    return out


C4_BAD_PHRASES = ("lorem ipsum", "javascript", "cookie policy",
                  "terms of use", "privacy policy")
C4_MIN_LINE_WORDS = 3


def c4_clean(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    min_line_words: int = C4_MIN_LINE_WORDS,
) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020 §2.2) — keep only
    lines that end in terminal punctuation AND have ≥ ``min_line_words``
    words AND contain no boilerplate phrase; drop documents left empty.

    Returns (doc_id, clean_text, n_lines_kept, n_lines_dropped).  Pure
    per-row array expressions — no shuffle, no Python."""
    phrase_pred = " AND ".join(
        f"NOT contains(lower(l), '{p}')" for p in C4_BAD_PHRASES
    )
    kept = F.expr(
        "filter(filter(split(t, '\\n'), l -> l != ''),"
        " l -> l rlike '[.!?\"\\u2019]\\\\s*$'"
        f" AND size(filter(split(l, '\\\\s+'), w -> w != ''))"
        f" >= {min_line_words}"
        f" AND {phrase_pred})"
    )
    total = F.expr("size(filter(split(t, '\\n'), l -> l != ''))")
    out = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.coalesce(F.col(text_col), F.lit("")).alias("t"),
        )
        .withColumn("kept", kept)
        .withColumn("clean_text", F.array_join("kept", "\n"))
        .withColumn("n_lines_kept", F.size("kept").cast("long"))
        .withColumn(
            "n_lines_dropped", (total - F.col("n_lines_kept")).cast("long")
        )
        .filter(F.col("n_lines_kept") > 0)
        .select("doc_id", "clean_text", "n_lines_kept", "n_lines_dropped")
    )
    return out


def gopher_quality(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 10,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """All metrics + the conjunctive ``gopher_pass`` flag.

    Fully per-row: every metric (including the dup-line pair) is computed
    in one projection over the document's own word/line arrays — zero
    Exchange in the physical plan (pinned by
    test_gopher_plan_zero_exchange).  ``keep_cols`` rides through, so a
    pipeline can ``filter("gopher_pass")`` with no join back."""
    out = word_metrics(df, text_col=text_col, id_col=id_col, keep_cols=keep_cols)
    return out.withColumn(
        "gopher_pass",
        (F.col("n_words") >= min_words)
        & F.col("mean_word_len").between(MIN_MEAN_WORD_LEN, MAX_MEAN_WORD_LEN)
        & (F.col("symbol_word_ratio") <= MAX_SYMBOL_WORD_RATIO)
        & (F.col("bullet_line_frac") <= MAX_BULLET_LINE_FRAC)
        & (F.col("ellipsis_line_frac") <= MAX_ELLIPSIS_LINE_FRAC)
        & (F.col("alpha_word_frac") >= MIN_ALPHA_WORD_FRAC)
        & (F.col("stop_word_count") >= MIN_STOP_WORDS)
        & (F.col("dup_line_frac") <= MAX_DUP_LINE_FRAC)
        & (F.col("dup_line_char_frac") <= MAX_DUP_LINE_CHAR_FRAC),
    )


MIN_PUNCT_LINE_FRAC = 0.12
MAX_SHORT_LINE_FRAC = 0.67
SHORT_LINE_CHARS = 30
MIN_SENTENCES = 3


def fineweb_quality(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """FineWeb/C4 document-level gates (Penedo et al. 2024, "The FineWeb
    Datasets", §3.1 — the C4-derived document filters; Raffel et al.
    2020 §2.2): terminal-punctuation line fraction ≥ 0.12, short-line
    (< 30 chars) fraction ≤ 0.67, no '{' (code/JSON boilerplate), no
    'lorem ipsum', and ≥ 3 sentence-terminal runs.

    Complements ``gopher_quality`` (composition/repetition) with the
    line-shape gates; all metrics are per-row expressions — zero
    Exchange.  ``keep_cols`` rides through like gopher_quality's."""
    lines = F.expr("filter(split(t, '\\n'), l -> l != '')")
    out = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.coalesce(F.col(text_col), F.lit("")).alias("t"),
            *keep_cols,
        )
        .withColumn("lines", lines)
        .withColumn("n_lines", F.size("lines").cast("long"))
        .withColumn(
            "punct_line_frac",
            F.round(
                F.when(
                    F.col("n_lines") > 0,
                    F.size(
                        F.expr(
                            "filter(lines,"
                            " l -> l rlike '[.!?\"\\u2019]\\\\s*$')"
                        )
                    ) / F.col("n_lines"),
                ).otherwise(F.lit(0.0)),
                6,
            ),
        )
        .withColumn(
            "short_line_frac",
            F.round(
                F.when(
                    F.col("n_lines") > 0,
                    F.size(
                        F.expr(
                            f"filter(lines, l -> length(l) < "
                            f"{SHORT_LINE_CHARS})"
                        )
                    ) / F.col("n_lines"),
                ).otherwise(F.lit(0.0)),
                6,
            ),
        )
        .withColumn("has_curly", F.expr("contains(t, '{')"))
        .withColumn("has_lorem", F.expr("contains(lower(t), 'lorem ipsum')"))
        .withColumn(
            "n_sentences",
            F.expr("size(regexp_extract_all(t, '[.!?]+', 0))").cast("long"),
        )
        .withColumn(
            "fineweb_pass",
            (F.col("punct_line_frac") >= MIN_PUNCT_LINE_FRAC)
            & (F.col("short_line_frac") <= MAX_SHORT_LINE_FRAC)
            & ~F.col("has_curly")
            & ~F.col("has_lorem")
            & (F.col("n_sentences") >= MIN_SENTENCES),
        )
        .drop("t", "lines")
    )
    return out


def line_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    min_df: int = 2,
) -> DataFrame:
    """Corpus-level duplicated-line removal (CCNet §4.1 / RefinedWeb "line
    deduplication"): drop EVERY occurrence of any non-empty line that
    appears in ≥ ``min_df`` distinct documents — the cross-document
    boilerplate signal (nav menus, footers, license blurbs) that
    document-local ``dup_line_*`` metrics cannot see.

    Returns (doc_id, clean_text, n_lines_kept, n_lines_dropped), dropping
    documents left empty — the same surface as :func:`c4_clean`.

    Scale shape (the part that matters at 100 TB): document text NEVER
    shuffles.  Lines are keyed by full ``md5`` (128-bit — a 60-bit prefix
    would collide at 10^12-doc line cardinalities):

    1. per-doc DISTINCT line hashes (``array_distinct`` — document-local,
       no shuffle) explode to (doc_id, h);
    2. ``COUNT(*)`` per hash = distinct-document frequency (partial,
       map-side-combined aggregation over 32-byte keys);
    3. duplicated hashes semi-join back onto the SAME (doc_id, h) pairs
       and regroup to a per-doc drop list — only the duplicated lines'
       hashes shuffle, a small fraction of the corpus by construction.
       A mega-hot boilerplate line (one h in millions of docs) skews this
       join's probe side; the session enables AQE skew-join splitting,
       and the subsequent groupBy is keyed by doc_id, which is uniform;
    4. the rewrite is a per-row ``filter`` over the original lines array
       against the broadcast-joinable per-doc drop list (left join keyed
       by doc_id; text stays in place).

    Oracle: the identical formulation in DuckDB (md5 exists in both
    dialects, so even hash collisions — astronomically unlikely — agree).
    """
    base = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.coalesce(F.col(text_col), F.lit("")).alias("t"),
        )
        .withColumn("lines", F.expr("filter(split(t, '\\n'), l -> l != '')"))
    )
    doc_distinct = base.select(
        "doc_id",
        F.explode(
            F.expr("array_distinct(transform(lines, l -> md5(l)))")
        ).alias("h"),
    )
    dup = (
        doc_distinct.groupBy("h")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= F.lit(min_df))
        .select("h")
    )
    drops = (
        doc_distinct.join(dup, "h")
        .groupBy("doc_id")
        .agg(F.collect_set("h").alias("drop_hashes"))
    )
    return (
        base.join(drops, "doc_id", "left")
        .withColumn(
            "drop_hashes",
            F.coalesce("drop_hashes", F.expr("CAST(array() AS ARRAY<STRING>)")),
        )
        .withColumn(
            "kept",
            F.expr("filter(lines, l -> NOT array_contains(drop_hashes, md5(l)))"),
        )
        .filter(F.size("kept") > 0)
        .select(
            "doc_id",
            F.array_join("kept", "\n").alias("clean_text"),
            F.size("kept").cast("long").alias("n_lines_kept"),
            (F.size("lines") - F.size("kept")).cast("long").alias(
                "n_lines_dropped"
            ),
        )
    )


# PII scrubbing (Dolma-style, Soldaini et al. 2024 §2.3): regex redaction
# of emails / phone numbers / IPv4 addresses with |||TOKEN||| placeholders.
# Patterns stay inside the regex subset Java (Spark) and RE2 (DuckDB)
# interpret identically: character classes + bounded quantifiers + \b, no
# lookaround, no backreferences.
PII_PATTERNS = (
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
     "|||EMAIL|||"),
    ("phone", "\\+1 \\(\\d{3}\\) \\d{3}-\\d{4}", "|||PHONE|||"),
    ("ip", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "|||IP|||"),
)


def pii_scrub(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Redact PII spans in place and count them per type — pure per-row
    ``regexp_replace``/``regexp_extract_all`` expressions: no shuffle, no
    Python, whole-stage-codegen friendly at any scale.

    Order matters: emails are scrubbed before IPv4 so a dotted-quad inside
    a hostname-ish mailbox is consumed by the email pattern first (counts
    are taken on the original text per type with the same precedence —
    each counted from the text AFTER the earlier patterns were replaced,
    so no span is double-counted).

    Returns (doc_id, clean_text, n_emails, n_phones, n_ips)."""
    out = df.select(
        F.col(id_col).alias("doc_id"),
        F.coalesce(F.col(text_col), F.lit("")).alias("t"),
    )
    counts = []
    cur = F.col("t")
    for name, pat, token in PII_PATTERNS:
        # python-API pattern literals: no SQL string-literal reparsing, so
        # the backslashes reach Java exactly as written above
        counts.append(
            F.size(
                F.regexp_extract_all(
                    F.col(f"_scrub_{name}_src"), F.lit(pat), F.lit(0)
                )
            )
            .cast("long")
            .alias(f"n_{name}s")
        )
        out = out.withColumn(f"_scrub_{name}_src", cur)
        cur = F.regexp_replace(F.col(f"_scrub_{name}_src"), pat, token)
    return out.select(
        "doc_id",
        cur.alias("clean_text"),
        *counts,
    )


def top_ngram_metrics(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    ns: tuple = (2, 3, 4),
) -> DataFrame:
    """Gopher repetition signals (Rae et al. 2021 §A1.1): for each n, the
    fraction of normalized content characters contained in occurrences of
    the MOST FREQUENT word n-gram — ``count(top gram) * len(top gram) /
    len(content)``, where content is the lowercased whitespace words
    joined by single spaces (the datatrove/Gopher formulation).  Ties on
    count resolve to the larger character mass (deterministic in both
    dialects, and the only thing the metric consumes IS the mass).

    Entirely per-row: n-grams via ``transform``/``slice`` over the word
    array, then a run-length scan over the SORTED gram array with a
    4-field ``aggregate`` state (prev gram, current run, best count, best
    mass) — no explode, no shuffle, O(g log g) per row.  Gopher's
    dup-n-gram *coverage* family (n = 5..10, union of covered character
    positions) is :func:`dup_ngram_coverage` — coverage-union semantics
    need per-position interval merging, which lives on the vectorized
    python path instead of native expressions."""
    words = "filter(split(lower(t), '\\\\s+'), w -> w != '')"
    base = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.coalesce(F.col(text_col), F.lit("")).alias("t"),
        )
        .withColumn("words", F.expr(words))
        .withColumn(
            "content_len", F.expr("length(concat_ws(' ', words))")
        )
    )
    cols = ["doc_id"]
    for n in ns:
        run = "IF(x = a.prev, a.run + 1L, 1L)"
        grams = (
            f"CASE WHEN size(words) >= {n} THEN "
            f"array_sort(transform(sequence(1, size(words) - {n} + 1), "
            f"i -> concat_ws(' ', slice(words, i, {n})))) "
            "ELSE CAST(array() AS ARRAY<STRING>) END"
        )
        best_mass = (
            f"aggregate({grams}, "
            "named_struct('prev', CAST('' AS STRING), 'run', 0L, "
            "'bestcnt', 0L, 'bestmass', 0L), "
            "(a, x) -> named_struct("
            "'prev', x, "
            f"'run', {run}, "
            f"'bestcnt', greatest(a.bestcnt, {run}), "
            f"'bestmass', CASE WHEN {run} > a.bestcnt "
            f"  THEN {run} * length(x) "
            f"WHEN {run} = a.bestcnt "
            f"  THEN greatest(a.bestmass, {run} * length(x)) "
            "ELSE a.bestmass END), "
            "a -> a.bestmass)"
        )
        base = base.withColumn(
            f"top_{n}gram_char_frac",
            F.expr(
                f"CASE WHEN content_len > 0 THEN "
                f"round(CAST({best_mass} AS DOUBLE) / content_len, 6) "
                "ELSE 0.0 END"
            ),
        )
        cols.append(f"top_{n}gram_char_frac")
    return base.select(*cols)


def substring_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    n: int = 10, min_count: int = 2,
) -> DataFrame:
    """Corpus-level duplicated-substring removal (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better" — the
    EXACTSUBSTR pass, at word granularity): every word covered by an
    ``n``-gram that occurs ≥ ``min_count`` times in the whole corpus
    (across documents or repeated within one) is removed.  The
    between-doc complement of :func:`line_dedup` — catches shared
    passages that don't align on line boundaries.

    Returns (doc_id, clean_text, n_words, n_words_removed,
    n_dup_grams) for EVERY input doc (fully-duplicated docs come back
    with empty clean_text — the caller decides the drop policy).
    ``clean_text`` is the kept words joined by single spaces: the
    rewrite is token-level, like the reference algorithm's token-stream
    cut (documented lossy for intra-word whitespace).

    Scale shape (the line_dedup discipline at n-gram granularity):
    document text never shuffles — only 128-bit md5 gram hashes do.
    Lee et al. build a single-machine suffix array over ~100 GB; the
    distributed analog is

    1. per-row gram hashes (``transform``/``slice``, document-local);
    2. COUNT per hash (map-side combine collapses within-partition
       repeats; the exchange carries (hash, partial count) only);
    3. hashes with corpus count ≥ min_count semi-join back to per-doc
       rows and regroup to a per-doc drop list (AQE skew-split handles
       a mega-hot boilerplate gram; the regroup key doc_id is uniform);
    4. the rewrite is per-row native: a flags array (one
       ``array_contains`` per gram against the doc's own drop list),
       then covered(j) = OR over the ≤ n windows touching word j —
       O(words·n) per row, zero further Exchange.
    """
    base = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.coalesce(F.col(text_col), F.lit("")).alias("t"),
        )
        .withColumn(
            "words", F.expr("filter(split(t, '\\\\s+'), w -> w != '')")
        )
        .withColumn(
            "hs",
            F.expr(
                f"CASE WHEN size(words) >= {n} THEN "
                f"transform(sequence(1, size(words) - {n} + 1), "
                f"i -> md5(concat_ws(' ', slice(words, i, {n})))) "
                "ELSE CAST(array() AS ARRAY<STRING>) END"
            ),
        )
    )
    ex = base.select("doc_id", F.explode("hs").alias("h"))
    dup = (
        ex.groupBy("h")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= F.lit(min_count))
        .select("h")
    )
    drops = (
        ex.join(dup, "h")
        .groupBy("doc_id")
        .agg(F.collect_set("h").alias("dh"))
    )
    covered = (
        "CASE WHEN size(words) = 0 OR size(hs) = 0 THEN "
        "transform(words, w -> false) "
        "ELSE transform(sequence(1, size(words)), j -> "
        f"exists(sequence(greatest(1, j - {n} + 1), least(j, size(hs))), "
        "i -> element_at(flags, i))) END"
    )
    kept = (
        "CASE WHEN size(words) = 0 THEN words ELSE "
        "filter(transform(sequence(1, size(words)), j -> "
        "IF(element_at(cov, j), CAST(NULL AS STRING), "
        "element_at(words, j))), x -> x IS NOT NULL) END"
    )
    return (
        base.join(drops, "doc_id", "left")
        .withColumn(
            "dh",
            F.coalesce("dh", F.expr("CAST(array() AS ARRAY<STRING>)")),
        )
        .withColumn("flags", F.expr("transform(hs, x -> array_contains(dh, x))"))
        .withColumn("cov", F.expr(covered))
        .select(
            "doc_id",
            F.concat_ws(" ", F.expr(kept)).alias("clean_text"),
            F.size("words").cast("long").alias("n_words"),
            F.expr("size(filter(cov, c -> c))").cast("long").alias(
                "n_words_removed"
            ),
            F.expr("size(filter(flags, f -> f))").cast("long").alias(
                "n_dup_grams"
            ),
        )
    )


DUP_NGRAM_NS = (5, 6, 7, 8, 9, 10)


def dup_ngram_coverage(df: DataFrame) -> DataFrame:
    """The other half of Gopher's repetition battery (Rae et al. 2021
    §A1.1): for each n in 5..10, the fraction of normalized-content
    characters covered by the UNION of character spans of word n-grams
    that occur more than once in the document (Gopher gates these at
    0.15, 0.14, 0.13, 0.12, 0.11, 0.10).  Coverage-union semantics need
    per-position interval merging, which has no clean per-row native
    formulation — so this is the one quality metric on the vectorized
    python path (one ``map_rows`` pass, the same precedent as the classifier):
    document-local, zero shuffle, O(words · |ns|) per document with a
    byte-mask union, memory O(content) per doc (bounded by upstream
    length caps).

    The oracle is a fully INDEPENDENT relational re-derivation in DuckDB
    (explode grams with positions → duplicated grams per doc → char
    spans via word-offset join → DISTINCT covered positions), so green
    means two unrelated algorithms agree on the union.

    Content/offsets: lowercased whitespace words joined by single
    spaces; the gram at word i covers content chars
    [offset(i), offset(i+n-1) + len(word_{i+n-1}))."""
    from pyspark.sql.types import (
        DoubleType, StringType, StructField, StructType,
    )

    from wordscape_spark.sources.ingest import map_rows

    schema = StructType([StructField("doc_id", StringType())] + [
        StructField(f"dup_{n}gram_char_frac", DoubleType())
        for n in DUP_NGRAM_NS
    ])

    def batch_fn(docs):
        rows = []
        for doc_id, text in docs:
            words = [w for w in (text or "").lower().split() if w]
            offs = []
            pos = 0
            for w in words:
                offs.append(pos)
                pos += len(w) + 1
            content_len = max(pos - 1, 0)
            row = [doc_id]
            for n in DUP_NGRAM_NS:
                if content_len == 0 or len(words) < n:
                    row.append(0.0)
                    continue
                grams: dict = {}
                for i in range(len(words) - n + 1):
                    grams.setdefault(tuple(words[i:i + n]), []).append(i)
                covered = bytearray(content_len)
                for idxs in grams.values():
                    if len(idxs) < 2:
                        continue
                    for i in idxs:
                        a = offs[i]
                        b = offs[i + n - 1] + len(words[i + n - 1])
                        covered[a:b] = b"\x01" * (b - a)
                row.append(round(sum(covered) / content_len, 6))
            rows.append(row)
        return rows

    return map_rows(
        df.select("doc_id", F.coalesce(F.col("text"), F.lit("")).alias("t")),
        batch_fn,
        schema,
    )


def _word_count_log_sum(words: str) -> str:
    """SQL for ``sum(c * ln(c))`` over the distinct words of ``words``, an
    array of non-empty strings (c = the word's count): one run-length scan
    of the sorted array that adds a run's term when the run ends."""
    # the initial state's empty run adds 0 (ln(0) is NULL in Spark,
    # hence the greatest)
    ended = "a.s + a.run * ln(greatest(a.run, 1L))"
    return (
        f"aggregate(array_sort({words}), "
        "named_struct('prev', CAST('' AS STRING), 'run', 0L, 's', 0.0D), "
        "(a, x) -> IF(x = a.prev, "
        "named_struct('prev', x, 'run', a.run + 1L, 's', a.s), "
        f"named_struct('prev', x, 'run', 1L, 's', {ended})), "
        f"a -> {ended})"
    )


def lexical_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document lexical-diversity signals: word count, unique-word
    count, type-token ratio, and unigram (Shannon) entropy in nats —
    the low-entropy/low-TTR tail is keyword-stuffing and template spam
    (RedPajama-v2's ``rps_doc_unique_words`` family, Together 2023;
    Gopher's repetition rationale, Rae et al. 2021 §A1.1).

    Entirely per-row, zero Exchange: the per-word counts come from a
    run-length scan over the SORTED word array with an ``aggregate``
    state (the ``top_ngram_metrics`` shape) — each run adds its
    ``c*ln(c)`` once, when it ends, so no per-word map is ever
    materialized and the sum has the oracle's terms.  ``H = ln(n) - s/n``
    with ``s = sum(c_i * ln(c_i))``.  Docs with no words are dropped (both
    dialects).  The oracle is an INDEPENDENT relational re-derivation
    (explode -> group -> sum), not a transliteration."""
    words = (
        f"filter(split(lower(coalesce({text_col}, '')), '\\\\s+'),"
        " w -> w != '')"
    )
    s = _word_count_log_sum("words")
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.expr(words).alias("words"),
        )
        .withColumn("n_words", F.size("words").cast("long"))
        .filter(F.col("n_words") > 0)
        .withColumn(
            "n_unique", F.expr("size(array_distinct(words))").cast("long")
        )
        .select(
            "doc_id",
            "n_words",
            "n_unique",
            F.expr(
                "round(CAST(n_unique AS DOUBLE) / n_words, 6)"
            ).alias("ttr"),
            # greatest(...): entropy is mathematically >= 0; the float
            # difference can land at -1e-16, which round() would keep as
            # -0.0 (hashed as '-0' by a value comparison)
            F.expr(
                f"round(greatest(ln(n_words) - {s} / n_words, 0.0D), 6)"
            ).alias("entropy"),
        )
    )
