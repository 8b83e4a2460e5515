"""Bloom-filter seen-set gate (Bloom 1970; the deduplication device of
Dolma's deduper, Soldaini et al. 2024, arXiv:2402.00159 §4.1): build a
fixed-size bitmap over the keys of an already-ingested corpus, then gate
a new batch against it — "definitely new" survives, "probably seen"
(including the filter's deterministic false positives) is dropped.
This is the crawl-frontier / incremental-ingest primitive: at 100 TB the
seen-set has billions of keys, and an exact anti-join against it
shuffles both sides every batch, while the bloom bitmap is a fixed
``m``-bit broadcast (16 MiB at m=2^27) hit map-side.

Construction is fully deterministic and dual-dialect (DuckDB mirrors
every step in the oracles):

- ``k`` bit positions per key by double hashing (Kirsch & Mitzenmacher
  2006: ``pos_i = (h1 + i·h2) mod m``), both hashes the repo's
  md5-prefix integer (``xxhash64`` has no DuckDB mirror);
- the bitmap packs into **63-bit words** — shifts 0..62 are in-range
  for a signed BIGINT in BOTH engines (DuckDB raises on ``1 << 63``);
- membership = every one of the key's ``k`` words has its bit set.

Scale shape: the build is explode → ``groupBy(word_idx)`` with
map-side combine — at most ``ceil(m/63)`` rows ever shuffle per
partition, and the result IS the bitmap (one row per non-zero word).
The gate folds those words into a one-row ``map<word_idx, word>``,
broadcasts it with a scalar crossJoin (the filters.py:157 device), and
evaluates the all-k-bits-set verdict as a PER-ROW expression — the
probe corpus never shuffles and its payload is untouched.

Beyond-reference operator (training-data curation battery): the
reference dedups URLs with exact hash anti-joins
(app/src/url_processing/process_urls.py pattern — A6/A7 in SURVEY §2);
the bloom gate is the published constant-memory alternative its users
run when the seen-set no longer fits a shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

DEFAULT_M = 4096  #: bits — test-scale default; size ~10·n_keys at scale
DEFAULT_K = 4  #: hash functions

#: bits per packed word — 63 keeps every shift in signed-BIGINT range
#: in BOTH Spark and DuckDB (DuckDB raises OutOfRange on 1::BIGINT<<63)
WORD_BITS = 63


def _h(expr: str, salt: str = "") -> str:
    """md5-prefix integer of a (salted) expression — the repo's
    dual-dialect hash device.  The key is cast to string first so
    integer ids hash identically in both engines."""
    s = f"CAST({expr} AS STRING)"
    inner = f"concat('{salt}', {s})" if salt else s
    return f"CAST(conv(substr(md5({inner}), 1, 8), 16, 10) AS BIGINT)"


def positions_expr(key_col: str, m: int = DEFAULT_M, k: int = DEFAULT_K) -> str:
    """SQL expression: key column → array of ``k`` bit positions via
    double hashing.  h1/h2 are bound ONCE through the array-of-struct
    device (a bare alias referenced from a HOF lambda is re-inlined
    per element by CollapseProject — see fingerprint.py)."""
    h1 = _h(key_col)
    h2 = _h(key_col, salt="bloom2:")
    return (
        f"transform(array(named_struct('h1', {h1}, 'h2', {h2})), hs -> "
        f"transform(sequence(0, {k - 1}), i -> pmod(hs.h1 + i * hs.h2, {m})"
        f"))[0]"
    )


def bloom_build(
    df: DataFrame, key_col: str, m: int = DEFAULT_M, k: int = DEFAULT_K
) -> DataFrame:
    """The bitmap: (word_idx, word) for every non-zero 63-bit word.
    ≤ ceil(m/63) rows regardless of corpus size — map-side-combined
    ``bit_or``; broadcast the result into gates."""
    return (
        df.select(F.explode(F.expr(positions_expr(key_col, m, k))).alias("pos"))
        .select(
            F.expr(f"pos DIV {WORD_BITS}").alias("word_idx"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT),"
                f" CAST(pmod(pos, {WORD_BITS}) AS INT))"
            ).alias("bit"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or(F.col("bit")).alias("word"))
    )


def seen_expr(key_col: str, map_col: str, m: int, k: int) -> str:
    """SQL expression: bloom membership verdict for ``key_col`` against
    a ``map<word_idx, word>`` bitmap column — every one of the key's
    ``k`` bits must be set (a word absent from the map is all-zero)."""
    bit = f"shiftleft(CAST(1 AS BIGINT), CAST(pmod(p, {WORD_BITS}) AS INT))"
    return (
        f"forall({positions_expr(key_col, m, k)}, p -> "
        f"(coalesce(try_element_at({map_col},"
        f" CAST(p DIV {WORD_BITS} AS BIGINT)),"
        f" CAST(0 AS BIGINT)) & {bit}) = {bit})"
    )


def _bitmap_map(filter_words: DataFrame) -> DataFrame:
    """One row: the (word_idx → word) bitmap as a map — ≤ ceil(m/63)
    entries (16 MiB at m=2^30), the thing the gate broadcasts."""
    return filter_words.groupBy().agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("word_idx", "word")))
        ).alias("_bloom_map")
    )


def bloom_new(
    probe: DataFrame,
    filter_words: DataFrame,
    key_col: str,
    m: int = DEFAULT_M,
    k: int = DEFAULT_K,
) -> DataFrame:
    """Probe rows whose key is DEFINITELY not in the seen-set (bloom
    false positives are dropped — the documented trade of the
    constant-memory gate).  A pure per-row filter under the one-row
    bitmap broadcast: zero probe-side shuffle, payload untouched."""
    return (
        probe.crossJoin(F.broadcast(_bitmap_map(filter_words)))
        .filter(~F.expr(seen_expr(key_col, "_bloom_map", m, k)))
        .drop("_bloom_map")
    )
