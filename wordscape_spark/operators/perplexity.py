"""Perplexity scoring (E3) — deterministic n-gram surrogate.

Reference: SentencePiece + KenLM 5-gram per line, ``10^(−Σ log10 p / len)``,
scored only when the doc's top language matches the model
(/root/reference/app/src/quality/perplexity.py:13-55,
app/pp_compute_perplexity.py:27-43).  The sandbox has no KenLM and no model
downloads, so the operator keeps the exact shape — per-executor model tables,
Arrow-batched scoring, per-language application, same perplexity formula —
over a deterministic char-bigram model built from the synthetic vocabularies.

Model tables are module-level singletons: built once per Python worker
process (the broadcast-once pattern the reference lazy-loads per call site,
inference.py:26-27).
"""

from __future__ import annotations

import math
from collections import Counter
from functools import lru_cache
from typing import Iterator

import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType

from wordscape_spark.datagen import VOCAB


@lru_cache(maxsize=None)
def _bigram_logprobs(lang: str) -> dict[str, float]:
    """Char-bigram log10 probabilities with add-one smoothing, trained on
    the language's vocabulary (deterministic)."""
    text = " ".join(VOCAB[lang] * 3)
    counts = Counter(text[i:i + 2] for i in range(len(text) - 1))
    ctx = Counter(text[i] for i in range(len(text) - 1))
    vocab_size = len({c for c in text}) + 1
    return {
        bg: math.log10((n + 1) / (ctx[bg[0]] + vocab_size))
        for bg, n in counts.items()
    }


@lru_cache(maxsize=None)
def _default_logprob(lang: str) -> float:
    text = " ".join(VOCAB[lang] * 3)
    vocab_size = len(set(text)) + 1
    return math.log10(1.0 / vocab_size)


def score_text(text: str, lang: str) -> float:
    """10^(−Σ log10 p / n_bigrams) — the reference formula over bigrams."""
    if lang not in VOCAB:
        return 0.0
    t = text.lower()
    if len(t) < 2:
        return 0.0
    table = _bigram_logprobs(lang)
    default = _default_logprob(lang)
    total = 0.0
    n = len(t) - 1
    for i in range(n):
        total += table.get(t[i:i + 2], default)
    return round(10 ** (-total / n), 6)


def with_perplexity(df: DataFrame, scorer=None) -> DataFrame:
    """Arrow-batched perplexity column over ``text`` and ``lang``; scored
    per-row with the row's language model (reference: model applied only
    to matching-language docs).

    ``scorer`` is the KenLM swap point: a picklable ``Callable[[str, str],
    float]`` → (text, lang) → perplexity — e.g. SentencePiece tokenize +
    ``kenlm.Model`` per-line scoring (perplexity.py:13-55), with models
    lazy-loaded behind a module-level cache so each executor loads each
    .arpa/.bin once.  Default: the in-sandbox char-bigram model.
    """
    fn = scorer or score_text

    @F.arrow_udf(DoubleType())
    def ppl(
        batches: Iterator[tuple[pa.Array, pa.Array]],
    ) -> Iterator[pa.Array]:
        for texts, langs in batches:
            yield pa.array(
                [
                    fn(t or "", lang)
                    for t, lang in zip(texts.to_pylist(), langs.to_pylist())
                ],
                pa.float64(),
            )

    # the scorer is deterministic, but the non-deterministic mark stops
    # the optimizer from duplicating the (expensive) model UDF below
    # pushed-down filters that reference the perplexity column — one
    # ArrowEvalPython per branch instead of two (guide §4.4 shape; the
    # whitelist gate's plan drops from 3 to 2 evaluations, results
    # identical and pinned by the golden oracle)
    ppl_once = ppl.asNondeterministic()

    return df.withColumn(
        "perplexity", ppl_once(F.col("text"), F.col("lang"))
    )
