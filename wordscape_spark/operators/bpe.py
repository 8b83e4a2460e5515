"""Distributed BPE vocabulary training and encoding (Sennrich et al.
2016, "Neural Machine Translation of Rare Words with Subword Units").

The tokenizer-training step of an LLM data pipeline, Spark-first:

* **Corpus-scale work is ONE aggregation** — ``groupBy(word).count()``
  over the exploded whitespace words (map-side combinable, shuffles
  only distinct words).  Everything after runs on the *distinct-word
  histogram*, which is sublinear in corpus size and can additionally be
  capped to the top ``max_vocab_words`` by frequency (``TakeOrdered``,
  never a single-partition sort).
* **Each merge round is a histogram-local aggregation** — adjacent-pair
  counts weighted by word frequency (again map-side combinable), a
  bounded 1-row ``collect()`` for the argmax pair (the same bounded-
  driver-sample pattern as IVF centroid training,
  ``operators/similarity.py``), then a per-row literal string replace.
  No corpus re-scan, no window, no growing shuffle.
* **Tokenization state is a delimited string**, not a list: a word's
  current segmentation is ``' t1  t2  ...  tn '``, every token in its
  OWN pair of spaces, so adjacent tokens share no delimiter and merging
  ``(a, b)`` as the literal replace ``' a  b ' -> ' ab '`` is exactly a
  left-to-right scan-merge (``'abab'`` -> ``ab ab``, not ``ab a b``).
  That replace is identical in Python, Spark and DuckDB — which makes
  the training loop *relationally replayable*: the oracle unrolls the k
  rounds as generated CTEs and must reproduce the merge table exactly
  (see ``queries.build_oracle_sql['bpe_train']``).

Encoding applies the learned merges in rank order to whole documents:
words are char-seeded and joined by one EXTRA space, so no two-space
merge pattern can fire across the three-space word gap — one chained
per-row expression, zero Exchange.

Overlap semantics match the BPE reference implementation: pair counts
include overlapping occurrences (``'aaa'`` counts ``(a,a)`` twice) and
the left-to-right replace merges greedily (``'aaa' -> 'aa' + 'a'``),
exactly like ``learn_bpe.py``'s zip-count + scan-merge.

Reference parity: the WordScape pipeline stops at token *counting*
(word metrics, ``annotation/utils/text_metrics.py``); vocabulary
training is part of the beyond-reference LLM-curation battery, next to
DSIR/mixing/packing in this package.

Oracle boundary: the char-seed regex ``(.)`` matches UTF-16 code units
in Java (Spark) but codepoints in RE2 (DuckDB) — supplementary-plane
characters (emoji) would seed as two symbols on the Spark side.  Real
BPE over such corpora normally byte-falls-back anyway; the oracle
contract here is BMP text (the test corpora are ASCII).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

# seed segmentation of one word: every character wrapped in its own
# spaces -> ' c1  c2  ...  cn '
_SEED_SPARK = "regexp_replace({w}, '(.)', ' $1 ')"
_SEED_DUCK = "regexp_replace({w}, '(.)', ' \\1 ', 'g')"


def words_expr(text_col: str, dialect: str) -> str:
    """Whitespace words of lowercased text — identical in both engines
    (empty strings filtered by the caller)."""
    if dialect == "spark":
        return f"split(lower(trim({text_col})), '\\\\s+')"
    return f"regexp_split_to_array(lower(trim({text_col})), '\\s+')"


def word_histogram(
    docs: DataFrame,
    text_col: str = "text",
    max_vocab_words: int | None = None,
) -> DataFrame:
    """(word, cnt) over the corpus — the only corpus-scale pass.

    ``max_vocab_words`` keeps the top-N by (cnt DESC, word ASC): a
    TakeOrdered top-k, the standard vocabulary cap that bounds every
    downstream merge round independently of corpus size."""
    hist = (
        docs.select(
            F.explode(F.expr(words_expr(text_col, "spark"))).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    if max_vocab_words is not None:
        hist = hist.orderBy(F.desc("cnt"), F.asc("word")).limit(
            max_vocab_words
        )
    return hist


def bpe_train(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
    max_vocab_words: int | None = None,
) -> list[tuple[int, str, str, int]]:
    """Learn ``n_merges`` BPE merges; returns
    ``[(rank, left, right, freq)]`` in merge order (rank 1-based,
    ``freq`` = corpus occurrences of the pair when it was merged).

    Ties break deterministically on (freq DESC, left ASC, right ASC) —
    retry/partitioning-stable and identical to the SQL oracle's ORDER
    BY.  Stops early if the histogram runs out of pairs."""
    if n_merges <= 0:
        raise ValueError("n_merges must be positive")
    seed = _SEED_SPARK.format(w="word")
    seeded = (
        word_histogram(docs, text_col, max_vocab_words)
        .select(F.expr(seed).alias("toks"), "cnt")
        .cache()
    )
    cur = seeded
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        best = (
            cur.select("cnt", F.split(F.trim("toks"), " +").alias("l"))
            .filter(F.size("l") >= 2)
            .select(
                "cnt",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(l) - 1),"
                        " i -> struct(l[i - 1] AS lhs, l[i] AS rhs))"
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.lhs").alias("lhs"), F.col("p.rhs").alias("rhs"))
            .agg(F.sum("cnt").alias("freq"))
            .orderBy(F.desc("freq"), F.asc("lhs"), F.asc("rhs"))
            .limit(1)
            .collect()  # bounded: exactly one row
        )
        if not best:
            break
        lhs, rhs, freq = best[0]["lhs"], best[0]["rhs"], int(best[0]["freq"])
        merges.append((rank, lhs, rhs, freq))
        cur = cur.withColumn(
            "toks",
            F.replace("toks", F.lit(f" {lhs}  {rhs} "), F.lit(f" {lhs}{rhs} ")),
        )
    # unpersist the CACHED seeded histogram — ``cur`` is reassigned every
    # round, so unpersisting it would leak the cache entry for the rest of
    # the session (ADVICE r6)
    seeded.unpersist()
    return merges


def merges_table(
    spark: SparkSession, merges: list[tuple[int, str, str, int]]
) -> DataFrame:
    return spark.createDataFrame(
        merges, "rank INT, lhs STRING, rhs STRING, freq BIGINT"
    )


def doc_seed_expr(text_col: str, dialect: str) -> str:
    """Whole-document seed segmentation: each word char-seeded, words
    joined by one extra space so merge patterns can never match across a
    word boundary."""
    if dialect == "spark":
        per_word = _SEED_SPARK.format(w="w")
        return (
            f"concat_ws(' ', "
            f"transform({words_expr(text_col, 'spark')}, w -> {per_word}))"
        )
    per_word = _SEED_DUCK.format(w="w")
    return (
        f"array_to_string(list_transform("
        f"{words_expr(text_col, 'duckdb')}, w -> {per_word}), ' ')"
    )


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[int, str, str, int]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenize documents under a learned merge list: returns
    ``(doc_id, n_tokens)`` — the document's token count under the
    trained vocabulary.  One chained per-row expression (seed + k
    literal replaces + a token count), zero Exchange."""
    out = docs.select(
        F.col(id_col).alias("doc_id"),
        F.expr(doc_seed_expr(text_col, "spark")).alias("_bpe_s"),
    )
    for _, lhs, rhs, _ in sorted(merges):
        out = out.withColumn(
            "_bpe_s",
            F.replace("_bpe_s", F.lit(f" {lhs}  {rhs} "), F.lit(f" {lhs}{rhs} ")),
        )
    return out.select(
        "doc_id",
        F.size(F.expr(r"regexp_extract_all(_bpe_s, '\\S+', 0)"))
        .cast("bigint")
        .alias("n_tokens"),
    )


# ----------------------------------------------------- oracle generation


def train_ctes(src: str, n_merges: int) -> tuple[str, str]:
    """Generated DuckDB CTE chain replaying ``bpe_train`` relationally:
    returns ``(cte_block, merges_select)``.  Stage i derives pair counts
    from t{i-1}, picks the argmax under the identical tie-break, and
    applies the replace — the engine-parity argument is that every
    primitive (histogram, pair zip, ORDER BY tie-break, left-to-right
    literal replace) has identical semantics in both dialects.
    MATERIALIZED pins keep DuckDB from re-inlining the chain (each t{i}
    is referenced twice).  A round past pair exhaustion has no ``b{i}``
    row; the LEFT JOIN then passes t{i-1} through unchanged."""
    seed = _SEED_DUCK.format(w="word")
    ctes = [
        f"""words AS MATERIALIZED (
      SELECT word, COUNT(*) AS cnt FROM (
        SELECT unnest({words_expr('text', 'duckdb')}) AS word FROM {src}
      ) WHERE word <> '' GROUP BY word
    )""",
        f"t0 AS MATERIALIZED (SELECT {seed} AS toks, cnt FROM words)",
    ]
    for i in range(1, n_merges + 1):
        ctes.append(f"""p{i} AS (
      SELECT p.l AS lhs, p.r AS rhs, SUM(cnt) AS freq FROM (
        SELECT cnt, unnest(list_transform(range(1, len(lst)),
          j -> {{'l': lst[j], 'r': lst[j + 1]}})) AS p
        FROM (SELECT cnt, regexp_split_to_array(trim(toks), ' +') AS lst
              FROM t{i - 1})
        WHERE len(lst) >= 2
      ) GROUP BY 1, 2
    )""")
        ctes.append(f"""b{i} AS MATERIALIZED (
      SELECT {i} AS rank, lhs, rhs, CAST(freq AS BIGINT) AS freq FROM p{i}
      ORDER BY freq DESC, lhs ASC, rhs ASC LIMIT 1
    )""")
        ctes.append(f"""t{i} AS MATERIALIZED (
      SELECT coalesce(replace(toks, ' ' || b.lhs || '  ' || b.rhs || ' ',
                              ' ' || b.lhs || b.rhs || ' '), toks) AS toks, cnt
      FROM t{i - 1} LEFT JOIN b{i} b ON TRUE
    )""")
    union = " UNION ALL ".join(
        f"SELECT * FROM b{i}" for i in range(1, n_merges + 1)
    )
    return ",\n    ".join(ctes), union


def encode_ctes(
    src: str,
    n_merges: int,
    train_src: str | None = None,
    keep_cols: tuple[str, ...] = (),
) -> tuple[str, str]:
    """Train CTEs + a per-document replace chain: returns
    ``(cte_block, final_select)`` for the ``bpe_encode`` oracle.
    ``train_src`` trains the merges on a different relation than the one
    being encoded (the leakage-safe train-split-only setup);
    ``keep_cols`` ride payload columns through the chain."""
    train, _ = train_ctes(train_src or src, n_merges)
    seed = doc_seed_expr("text", "duckdb")
    cols = "".join(f"{c}, " for c in keep_cols)
    ctes = [
        f"d0 AS (SELECT {cols}CAST(doc_id AS BIGINT) AS doc_id, {seed} AS s "
        f"FROM {src})"
    ]
    for i in range(1, n_merges + 1):
        ctes.append(
            f"d{i} AS (SELECT {cols}doc_id, coalesce(replace(s, "
            f"' ' || b.lhs || '  ' || b.rhs || ' ', "
            f"' ' || b.lhs || b.rhs || ' '), s) AS s "
            f"FROM d{i - 1} LEFT JOIN b{i} b ON TRUE)"
        )
    final = (
        f"SELECT {cols}doc_id, "
        f"CAST(len(regexp_extract_all(s, '\\S+')) AS BIGINT)"
        f" AS n_tokens FROM d{n_merges}"
    )
    return train + ",\n    " + ",\n    ".join(ctes), final
