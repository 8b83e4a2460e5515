"""Character-trigram language ID (E1, fastText-style surrogate).

Reference: fastText ``lid.176.ftz`` top-k=5 per page/doc with
``{__label__xx: conf}`` maps and an ``__label__unknown`` fallback
(/root/reference/app/src/annotation/language_detection/inference.py:8-59,
utils.py:18-29, top_k from default_config.yaml:23).

No model downloads in the sandbox: the model is a deterministic char-trigram
log-likelihood table trained at import time on the synthetic vocabularies —
the same operator shape as fastText inference (per-executor model singleton,
Arrow-batched scoring, top-k map output), so swapping in a real .ftz changes
only ``_MODEL``.
"""

from __future__ import annotations

import math
from collections import Counter
from functools import lru_cache
from typing import Iterator

import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import (
    DoubleType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from wordscape_spark.config import DEFAULT_CONFIG
from wordscape_spark.datagen import VOCAB

UNKNOWN = "__label__unknown"


@lru_cache(maxsize=1)
def _model() -> dict[str, dict[str, float]]:
    """lang -> trigram -> log10 prob (add-one smoothed); built once per
    process (the reference lazy-loads fastText the same way)."""
    tables: dict[str, dict[str, float]] = {}
    for lang, words in VOCAB.items():
        text = " " + " ".join(words * 2) + " "
        grams = Counter(text[i:i + 3] for i in range(len(text) - 2))
        total = sum(grams.values())
        v = len(grams) + 1
        tables[lang] = {
            g: math.log10((n + 1) / (total + v)) for g, n in grams.items()
        }
        tables[lang]["__default__"] = math.log10(1 / (total + v))
    return tables


def classify_text(text: str, top_k: int = DEFAULT_CONFIG.top_k_languages) -> dict[str, float]:
    """{__label__xx: confidence} for the top-k languages (softmax over mean
    trigram log-likelihoods); empty text → {__label__unknown: 1.0}
    (ref: inference.py:44-47)."""
    return classify_with_tables(text, _model(), top_k)


def classify_with_tables(
    text: str, model: dict[str, dict[str, float]], top_k: int
) -> dict[str, float]:
    """The scoring math over an explicit table — shared by the in-memory
    model and the file-backed artifact loader (models.py)."""
    t = " " + (text or "").lower().strip() + " "
    if len(t) < 5:
        return {UNKNOWN: 1.0}
    grams = [t[i:i + 3] for i in range(len(t) - 2)]
    means = {}
    for lang, table in model.items():
        default = table["__default__"]
        means[lang] = sum(table.get(g, default) for g in grams) / len(grams)
    # softmax over mean log10-likelihoods → confidences
    mx = max(means.values())
    exps = {lang: 10 ** (5 * (m - mx)) for lang, m in means.items()}
    z = sum(exps.values())
    confs = {f"__label__{lang}": round(e / z, 6) for lang, e in exps.items()}
    top = dict(
        sorted(confs.items(), key=lambda kv: (-kv[1], kv[0]))[:top_k]
    )
    return top


LANGID_SCHEMA = StructType(
    [
        StructField("languages", MapType(StringType(), DoubleType())),
        StructField("languages_topk", StringType()),
        StructField("top_lang", StringType()),
        StructField("top_lang_score", DoubleType()),
    ]
)


def serialize_topk(langs: dict[str, float]) -> str:
    """Canonical hash-comparable form of the top-k map: entries in the
    model's (-conf, label) order, scores as integer parts-per-million
    (float formatting cannot drift between engines)."""
    return "|".join(f"{k}:{round(v * 1_000_000)}" for k, v in langs.items())


def with_trigram_langid(
    df: DataFrame, text_col: str = "text", model=None
) -> DataFrame:
    """Adds languages map + top_lang/top_lang_score columns (E1 output shape,
    orm/models.py:74 languages dict + whitelist gate inputs).

    ``model`` is the fastText swap point: a picklable ``Callable[[str],
    dict[str, float]]`` returning the top-k ``{__label__xx: conf}`` map
    sorted by (-conf, label) — e.g. a wrapper over
    ``fasttext.load_model('lid.176.ftz').predict(text, k=5)``
    (inference.py:31-44), lazy-loaded behind a module-level cache so each
    executor loads the .ftz once.  Default: the in-sandbox trigram model.
    """
    fn = model or classify_text
    arrow_type = to_arrow_type(LANGID_SCHEMA)

    def lid_row(text: str | None) -> dict:
        langs = fn(text or "")
        # classify_text sorts by (-score, lang): its first entry IS the top
        # pick (ties broken by lexicographically smallest language,
        # consistently with the map order); an empty map has no top pick
        top_lang, top_score = next(iter(langs.items()), (None, None))
        return {
            "languages": langs,
            "languages_topk": serialize_topk(langs),
            "top_lang": top_lang,
            "top_lang_score": top_score,
        }

    @F.arrow_udf(LANGID_SCHEMA)
    def lid(batches: Iterator[pa.Array]) -> Iterator[pa.Array]:
        for texts in batches:
            yield pa.array(
                [lid_row(t) for t in texts.to_pylist()], arrow_type
            )

    out = df.withColumn("_lid", lid(F.col(text_col)))
    return (
        out.withColumn("languages", F.col("_lid.languages"))
        .withColumn("languages_topk", F.col("_lid.languages_topk"))
        .withColumn("top_lang", F.col("_lid.top_lang"))
        .withColumn("top_lang_score", F.col("_lid.top_lang_score"))
        .drop("_lid")
    )


def train_trigram_counts(
    df: DataFrame,
    lang_col: str = "top_lang",
    text_col: str = "text",
    k: int = 64,
) -> DataFrame:
    """Distributed TRAINING of the trigram table the classifier serves:
    per language label, the top-``k`` character trigrams of the
    normalized text by corpus frequency — the artifact behind
    ``models.save_trigram_model`` / ``file_trigram_classifier``, derived
    from the corpus itself instead of the import-time vocabularies.

    Output (lang, trigram, n, rank) with the deterministic tie order
    (count DESC, trigram ASC); integer counts so the oracle compares
    exactly.  ``models.tables_from_counts`` turns the collected rows into
    the ``classify_with_tables`` log-prob table — train → serve with no
    format gap.

    Scale shape: the gram explode never shuffles raw rows — Spark's
    partial aggregation collapses (lang, gram) pairs map-side before the
    exchange, so the shuffle carries at most |langs| x |charset|^3
    distinct keys per partition; the top-k window partitions by lang
    over those bounded aggregates."""
    from wordscape_spark.operators.text import normalize_expr
    from pyspark.sql.window import Window

    norm = normalize_expr(text_col, "spark")
    grams = (
        df.select(
            F.col(lang_col).alias("lang"),
            F.expr(f"concat(' ', {norm}, ' ')").alias("t"),
        )
        .select(
            "lang",
            F.explode(
                # Guard: Spark's sequence(1, 0) is the DESCENDING [1, 0]
                # (inclusive semantics), so an empty normalized text
                # (length(t)=2 after padding) would emit two bogus '  '
                # trigrams that the oracle's empty range(1,1) never sees.
                F.expr(
                    "CASE WHEN length(t) >= 3 THEN"
                    " transform(sequence(1, length(t) - 2),"
                    " i -> substring(t, i, 3))"
                    " ELSE CAST(array() AS ARRAY<STRING>) END"
                )
            ).alias("trigram"),
        )
        .groupBy("lang", "trigram")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("n").desc(), F.col("trigram").asc()
    )
    return (
        grams.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("lang", "trigram", F.col("n").cast("long"), "rank")
    )
