"""Text operators: normalization (E2), metrics (D10), language ID (E1),
token counting, fingerprinting.

All are column expressions (JVM-side, whole-stage codegen), except that
``with_metrics`` and ``with_langid`` take their integer counts from one
Python pass per Arrow batch (``count_columns``) and keep the SQL ratio
expressions over them.  Each has a documented DuckDB-SQL twin used by the
driver's correctness oracle; where an expression appears in both engines
the dialect generator below emits it for each, so the two sides cannot
drift.

Reference semantics:
* normalization — /root/reference/app/src/quality/text_normalizer.py:52-81
  (cc_net lineage: strip → lower → accent fold → digits→0 → unicode punct →
  drop non-printing)
* metrics — app/src/annotation/annotation_objects.py:165-185
* language ID — app/src/annotation/language_detection/inference.py:8-59
  (fastText top-k; in-sandbox surrogate: stopword-hit scoring with the same
  operator shape: map of lang→score + top_lang / top_lang_score columns)
"""

from __future__ import annotations

import re

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from wordscape_spark.core import classify as C
from wordscape_spark.datagen import VOCAB

# ----------------------------------------------------------- normalization

# single-char folds expressible with translate() in both engines
_ACCENT_SRC = "áàâäãåéèêëíìîïóòôöõúùûüçñýÿ"
_ACCENT_DST = "aaaaaaeeeeiiiiooooouuuucnyy"
_PUNCT_PAIRS = [
    ("，", ","), ("。", "."), ("、", ","), ("„", '"'), ("”", '"'),
    ("“", '"'), ("«", '"'), ("»", '"'), ("」", '"'), ("「", '"'),
    ("《", '"'), ("》", '"'), ("´", "'"), ("∶", ":"), ("：", ":"),
    ("？", "?"), ("！", "!"), ("（", "("), ("）", ")"), ("；", ";"),
    ("–", "-"), ("’", "'"), ("━", "-"), ("〈", "<"), ("〉", ">"),
    ("【", "["), ("】", "]"), ("％", "%"), ("►", "-"),
]
_PUNCT_SRC = "".join(s for s, _ in _PUNCT_PAIRS)
_PUNCT_DST = "".join(d for _, d in _PUNCT_PAIRS)

# multi-char folds need regexp_replace
_MULTI = [("—", " - "), ("．", ". "), ("…", "...")]


def _lit(s: str) -> str:
    """SQL string literal (single-quote escaping; valid in both dialects)."""
    return "'" + s.replace("'", "''") + "'"


def _rx(pattern: str, dialect: str) -> str:
    """Regex pattern as a SQL literal — Spark string literals also process
    backslash escapes, DuckDB's do not."""
    if dialect == "spark":
        pattern = pattern.replace("\\", "\\\\")
    return _lit(pattern)


def normalize_expr(col: str, dialect: str) -> str:
    """The E2 normalization chain as a SQL expression, per dialect.

    ``dialect`` is 'spark' or 'duckdb'; dialect differences: DuckDB's
    explicit 'g' flag on regexp_replace, literal escaping.
    """
    g = ", 'g'" if dialect == "duckdb" else ""
    e = f"lower(trim({col}))"
    e = f"translate({e}, {_lit(_ACCENT_SRC)}, {_lit(_ACCENT_DST)})"
    for src, dst in _MULTI:
        e = f"replace({e}, {_lit(src)}, {_lit(dst)})"
    e = f"translate({e}, {_lit(_PUNCT_SRC)}, {_lit(_PUNCT_DST)})"
    e = f"regexp_replace({e}, '[0-9]', '0'{g})"
    nonprint = "[\\x00-\\x1f\\x7f]"
    e = f"regexp_replace({e}, {_rx(nonprint, dialect)}, ''{g})"
    return e


def normalize(col: str = "text") -> Column:
    return F.expr(normalize_expr(col, "spark"))


# ----------------------------------------------------------------- metrics

# explicit letter alphabet: ascii + Latin-1 letters, so counts agree with
# Python str.isalpha() over the engine's text alphabet
_LETTERS = (
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
    + "".join(chr(c) for c in range(0xC0, 0xD7))   # À-Ö
    + "".join(chr(c) for c in range(0xD8, 0xF7))   # Ø-ö
    + "".join(chr(c) for c in range(0xF8, 0x100))  # ø-ÿ
)
_DIGITS = "0123456789"
import string as _string

_PUNCT_CHARS = _string.punctuation


def metrics_exprs(col: str, dialect: str) -> dict[str, str]:
    """D10 text metrics as SQL expressions (identical results per dialect).

    Counting uses ``translate`` (single char-map pass, no regex engine —
    regexp_replace over multi-MB mega-doc texts measured ~30× slower); the
    two derived ratios reference the count aliases (lateral column aliases,
    supported by both engines), so each base count is computed exactly once.
    """
    def dlit(s: str) -> str:
        if dialect == "spark":
            s = s.replace("\\", "\\\\")
        return _lit(s)

    length = "length"
    # words: delete punctuation (translate), split on whitespace, count
    # non-empty tokens (≡ python str.split after punct deletion)
    nopunct = f"translate({col}, {dlit(_PUNCT_CHARS)}, '')"
    if dialect == "spark":
        # count of non-empty whitespace-split tokens ≡ count of maximal
        # non-whitespace runs — one regexp_count pass, no token array
        # (bit-identical; the DuckDB branch stays the oracle's
        # split-and-filter form)
        words = f"regexp_count({nopunct}, '\\\\S+')"
    else:
        words = (
            f"len(list_filter(regexp_split_to_array({nopunct}, '\\s+'), "
            f"t -> t != ''))"
        )
    alph = f"({length}({col}) - {length}(translate({col}, {dlit(_LETTERS)}, '')))"
    num = f"({length}({col}) - {length}(translate({col}, {dlit(_DIGITS)}, '')))"
    return {
        "num_words": f"CAST({words} AS BIGINT)",
        "num_chars": f"CAST({length}({col}) AS BIGINT)",
        "num_alph_chars": f"CAST({alph} AS BIGINT)",
        "num_numeric_chars": f"CAST({num} AS BIGINT)",
        "num_alphnum_chars": "CAST(num_alph_chars + num_numeric_chars AS BIGINT)",
        "alnum_prop": (
            "CAST(CASE WHEN num_chars = 0 THEN 0.0 "
            "ELSE round(num_alphnum_chars * 1.0 / num_chars, 6) END AS DOUBLE)"
        ),
        "alph_to_num_ratio": (
            "CAST(CASE WHEN num_numeric_chars = 0 THEN 0.0 "
            "ELSE round(num_alph_chars * 1.0 / num_numeric_chars, 6) END "
            "AS DOUBLE)"
        ),
    }


def alnum_prop_expr(col: str, dialect: str) -> str:
    """Self-contained alnum_prop (for use outside the metrics column set)."""
    def dlit(s: str) -> str:
        if dialect == "spark":
            s = s.replace("\\", "\\\\")
        return _lit(s)

    alph = f"(length({col}) - length(translate({col}, {dlit(_LETTERS)}, '')))"
    num = f"(length({col}) - length(translate({col}, {dlit(_DIGITS)}, '')))"
    return (
        f"CAST(CASE WHEN length({col}) = 0 THEN 0.0 "
        f"ELSE round(({alph} + {num}) * 1.0 / length({col}), 6) END AS DOUBLE)"
    )


# class tables of the SQL metric and whitelist forms for
# ``C.segment_counts``: the literal alphabets the SQL embeds and Java/RE2's
# ASCII \s, over the full code-point range plus the sentinel
_JAVA_WS = " \t\n\x0b\f\r"  # java.util.regex / RE2 \s without UNICODE flag
_MB_LUT = None


def _mb_luts():
    """(alpha, digit, punct, non-space, space) tables."""
    global _MB_LUT
    if _MB_LUT is None:
        import numpy as np

        def table(chars, dtype=np.uint8):
            t = np.zeros(0x110001, dtype=dtype)
            t[[ord(ch) for ch in chars]] = 1
            return t

        ws = table(_JAVA_WS, bool)
        nonws = ~ws
        nonws[-1] = False  # the sentinel
        _MB_LUT = (
            table(_LETTERS), table(_DIGITS), table(_PUNCT_CHARS), nonws, ws
        )
    return _MB_LUT


def count_columns(
    df: DataFrame, col: str, names: list[str], counts
) -> DataFrame:
    """``df`` plus int64 columns ``names``, filled per Arrow batch by
    ``counts(texts)`` (one sequence per name) over ``col``'s strings.
    NULL text ⇒ NULL counts, exactly like ``length(NULL)`` in SQL, so the
    SQL ratio expressions over the counts propagate NULL identically."""
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        list(df.schema.fields) + [StructField(n, LongType()) for n in names]
    )
    col_idx = df.columns.index(col)
    out_names = [f.name for f in out_schema.fields]

    def add_counts(batches):
        import pyarrow as pa

        for batch in batches:
            text = batch.column(col_idx)
            mask = (
                text.is_null().to_numpy(zero_copy_only=False)
                if text.null_count
                else None
            )
            vals = counts(["" if t is None else t for t in text.to_pylist()])
            yield pa.RecordBatch.from_arrays(
                batch.columns
                + [pa.array(v, pa.int64(), mask=mask) for v in vals],
                names=out_names,
            )

    return df.mapInArrow(add_counts, schema=out_schema)


def _metric_counts(texts: list[str]) -> tuple:
    alpha, digit, punct, nonws, _ws = _mb_luts()
    nc, na, nn, nw, _ = C.segment_counts(texts, (alpha, digit), punct, nonws)
    return nw, nc, na, nn


def with_metrics(df: DataFrame, col: str = "text") -> DataFrame:
    """D10 metric columns, numerically identical to ``metrics_exprs``.

    The four base counts come from one ``C.segment_counts`` pass per Arrow
    batch (integer-exact twin of the translate / regexp_count SQL; the
    three ``translate`` evaluations plus the regex pass cost ~40 µs/row in
    the JVM and dominated this operator at bench scale), appended by
    ``count_columns``.  The derived ratio columns keep the EXACT SQL
    expressions over those integer counts, so the 6-dp HALF_UP rounding is
    unchanged and results stay bit-identical to the pure-SQL form (pinned
    by test)."""
    out = count_columns(
        df,
        col,
        ["num_words", "num_chars", "num_alph_chars", "num_numeric_chars"],
        _metric_counts,
    )
    exprs = metrics_exprs(col, "spark")
    for name in ("num_alphnum_chars", "alnum_prop", "alph_to_num_ratio"):
        out = out.withColumn(name, F.expr(exprs[name]))
    return out


# ------------------------------------------------------------- language id

# deterministic stopword tables (broadcast as literals into codegen)
LANGS = tuple(sorted(VOCAB))  # de, en, fr
_STOPWORDS = {lang: tuple(sorted(set(ws))) for lang, ws in VOCAB.items()}


def _lang_hits_expr(col: str, lang: str, dialect: str) -> str:
    stops = ", ".join(f"'{w}'" for w in _STOPWORDS[lang])
    if dialect == "spark":
        return (
            f"size(filter(split(lower({col}), '\\\\s+'), "
            f"t -> t IN ({stops})))"
        )
    return (
        f"len(list_filter(regexp_split_to_array(lower({col}), '\\s+'), "
        f"t -> t IN ({stops})))"
    )


def langid_exprs(col: str, dialect: str) -> dict[str, str]:
    """fastText-surrogate language scores: per-language stopword-hit rate,
    a deterministic score map + argmax columns (same operator shape as E1)."""
    if dialect == "spark":
        ntok = f"size(split(lower({col}), '\\\\s+'))"
    else:
        ntok = f"len(regexp_split_to_array(lower({col}), '\\s+'))"
    out: dict[str, str] = {}
    for lang in LANGS:
        hits = _lang_hits_expr(col, lang, dialect)
        out[f"score_{lang}"] = (
            f"CAST(CASE WHEN {ntok} = 0 THEN 0.0 "
            f"ELSE round({hits} * 1.0 / {ntok}, 6) END AS DOUBLE)"
        )
    # argmax with deterministic tie-break by language order
    best = "CASE "
    for lang in LANGS:
        # earlier languages win ties ⇒ strict for earlier, non-strict later
        conds = []
        for o in LANGS:
            if o == lang:
                continue
            op = "<" if LANGS.index(o) < LANGS.index(lang) else "<="
            conds.append(f"score_{o} {op} score_{lang}")
        best += f"WHEN {' AND '.join(conds)} THEN '{lang}' "
    best += "ELSE 'unknown' END"
    out["top_lang"] = best
    out["top_lang_score"] = (
        "greatest(" + ", ".join(f"score_{lang}" for lang in LANGS) + ")"
    )
    return out


def langid_topk_expr(dialect: str, k: int = 5) -> str:
    """E1 output-shape parity: the reference emits a top-k (k=5)
    ``{__label__xx: conf}`` dict per doc/page, empty text →
    ``{__label__unknown: 1.0}`` (inference.py:31-44; utils.py:18-29).

    Canonical serialized form (hash-comparable across engines):
    ``__label__<lang>:<score_ppm>`` entries joined by ``|``, ordered by
    (score desc, lang desc — struct sort is lexicographic in both engines);
    scores as integer parts-per-million so float formatting cannot drift
    between Spark and DuckDB.  Assumes the per-language ``score_<lang>``
    aliases are in scope (as produced by langid_exprs).
    """
    n = min(k, len(LANGS))
    if dialect == "spark":
        entries = ", ".join(
            f"named_struct('score', CAST(round(score_{lang} * 1000000) "
            f"AS BIGINT), 'lang', '{lang}')"
            for lang in LANGS
        )
        joined = (
            f"concat_ws('|', transform(slice(reverse(array_sort(array("
            f"{entries}))), 1, {n}), "
            f"s -> concat('__label__', s.lang, ':', CAST(s.score AS STRING))))"
        )
    else:
        entries = ", ".join(
            "{'score': CAST(round(score_" + lang + " * 1000000) AS BIGINT), "
            f"'lang': '{lang}'}}"
            for lang in LANGS
        )
        joined = (
            f"array_to_string(list_transform(list_reverse(list_sort("
            f"[{entries}]))[1:{n}], "
            f"s -> '__label__' || s.lang || ':' || s.score::VARCHAR), '|')"
        )
    zero = " + ".join(f"score_{lang}" for lang in LANGS)
    return (
        f"CASE WHEN ({zero}) = 0 THEN '__label__unknown:1000000' "
        f"ELSE {joined} END"
    )


_java_ws_split = re.compile(f"[{_JAVA_WS}]+").split
_STOP_SETS = tuple(frozenset(_STOPWORDS[lang]) for lang in LANGS)


def _langid_counts(texts: list[str]) -> list[list[int]]:
    """Token count, then stopword hits per language, of each text."""
    ntoks = []
    hits = [[] for _ in LANGS]
    for t in texts:
        toks = _java_ws_split(t.lower())
        ntoks.append(len(toks))
        for h, ss in zip(hits, _STOP_SETS):
            h.append(sum(1 for tk in toks if tk in ss))
    return [ntoks, *hits]


def with_langid(df: DataFrame, col: str = "text") -> DataFrame:
    # The integer token/stopword-hit counts come from one Python pass per
    # Arrow batch (the former split-once SQL form still re-ran the
    # interpreted ``filter(...IN (...))`` lambda per language per token);
    # tokenization mirrors the JVM exactly — ``re.split`` on Java/RE2's
    # ASCII \s class over ``text.lower()`` has the same part-count and
    # empty-edge semantics as ``split(lower(col), '\\s+')`` (limit −1), and
    # stopwords are ASCII so case-mapping differences cannot flip a
    # membership.  The score/argmax/top-k columns keep the EXACT SQL
    # expressions over those integer columns, so rounding and tie-breaks
    # are unchanged (bit-identical to the pure-SQL form — pinned by test).
    exprs = langid_exprs(col, "spark")
    tmp_names = ["_liq_ntok"] + [f"_liq_hits_{lang}" for lang in LANGS]
    df = count_columns(df, col, tmp_names, _langid_counts)
    for lang in LANGS:
        df = df.withColumn(
            f"score_{lang}",
            F.expr(
                f"CAST(CASE WHEN _liq_ntok = 0 THEN 0.0 "
                f"ELSE round(_liq_hits_{lang} * 1.0 / _liq_ntok, 6) END "
                f"AS DOUBLE)"
            ),
        )
    df = df.drop(*tmp_names)
    df = df.withColumn("top_lang", F.expr(exprs["top_lang"]))
    df = df.withColumn("top_lang_score", F.expr(exprs["top_lang_score"]))
    # E1 shape parity: lang→score map (the fastText dict analog) + the
    # canonical serialized top-k used by the dual-dialect driver oracle
    df = df.withColumn(
        "languages",
        F.map_from_arrays(
            F.array(*[F.lit(lang) for lang in LANGS]),
            F.array(*[F.col(f"score_{lang}") for lang in LANGS]),
        ),
    )
    df = df.withColumn("languages_topk", F.expr(langid_topk_expr("spark")))
    return df


# ------------------------------------------------------------ token counts

_BPE_ISH = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"


def token_exprs(col: str, dialect: str) -> dict[str, str]:
    if dialect == "spark":
        ws = (
            f"CASE WHEN length(trim({col})) = 0 THEN 0 "
            f"ELSE size(split(trim({col}), '\\\\s+')) END"
        )
        bpe = f"size(regexp_extract_all({col}, {_rx(_BPE_ISH, 'spark')}, 0))"
    else:
        ws = (
            f"CASE WHEN length(trim({col})) = 0 THEN 0 "
            f"ELSE len(regexp_split_to_array(trim({col}), '\\s+')) END"
        )
        bpe = f"len(regexp_extract_all({col}, {_rx(_BPE_ISH, 'duckdb')}))"
    return {
        "tokens_ws": f"CAST({ws} AS BIGINT)",
        "tokens_bpe": f"CAST({bpe} AS BIGINT)",
    }


# ------------------------------------------------------------- fingerprint


def fingerprint_expr(col: str, dialect: str) -> str:
    """Document fingerprint: md5 over the normalized text (rolling-hash
    analog of the reference's bytehash, download_process.py:367)."""
    return f"md5({normalize_expr(col, dialect)})"
