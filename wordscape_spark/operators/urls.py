"""Stage-A operators: URL hashing, cleaning, doc-id assignment, dedup,
recovery anti-joins (SURVEY §2.1, ref: app/src/cc_processing/*).

The reference runs these as pandas jobs over worker parquet shards with an
in-memory global hash set (deduplicate.py:10-56); here each is a declarative
DataFrame op — dedup/recovery become shuffle or broadcast anti-joins that
Catalyst plans (broadcast when history is small, AQE otherwise).
"""

from __future__ import annotations

import re
from typing import Iterator
from urllib.parse import unquote

import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import StringType

# regexes mirroring the reference's url matching intent
# (cc_url_process.py:37; preprocess_cc_urls.py:33-69)
_URL_START = re.compile(r"(www|http:|https:)")


def with_url_hash(df: DataFrame, url_col: str = "url") -> DataFrame:
    """A8: sha256(url) (ref: preprocess_cc_urls.py:93-96)."""
    return df.withColumn("url_hash", F.sha2(F.col(url_col), 256))


def dedup_by(df: DataFrame, *cols: str) -> DataFrame:
    """A6/A9: in-dump dedup (ref: cc_parse_merge_and_recover_urls.py:61-65)."""
    return df.dropDuplicates(list(cols))


def assign_doc_ids(df: DataFrame, source_col: str = "source",
                   order_col: str = "url_hash") -> DataFrame:
    """A10: per-source running index, zero-padded (preprocess_cc_urls.py:128-131).

    A single window per source would funnel each source through one
    reducer.  Instead the hex ``order_col`` is range-bucketed by its first
    two characters, row numbers are computed per (source, bucket) — 256×
    the reducer parallelism — and converted to the global rank by adding
    per-bucket offsets (a tiny count aggregate, cumulated over the
    256-row-per-source frame and broadcast back).  The bucket is a prefix
    of the ordering key, so (bucket, key) order == key order.  The offsets
    join null-safe on both keys: a NULL source or ``order_col`` (a NULL
    url) keeps its row, and NULL keys rank first, as in an ascending
    window over ``order_col``.
    """
    from pyspark.sql.window import Window

    df = df.withColumn("_bkt", F.substring(F.col(order_col), 1, 2))
    w_off = (
        Window.partitionBy(source_col)
        .orderBy("_bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        df.groupBy(source_col, "_bkt").count()
        .select(
            F.col(source_col).alias("_off_src"),
            F.col("_bkt").alias("_off_bkt"),
            F.coalesce(F.sum("count").over(w_off), F.lit(0)).alias("_off"),
        )
    )
    w_local = Window.partitionBy(source_col, "_bkt").orderBy(order_col)
    return (
        df.join(
            F.broadcast(offsets),
            F.col(source_col).eqNullSafe(F.col("_off_src"))
            & F.col("_bkt").eqNullSafe(F.col("_off_bkt")),
        )
        .withColumn(
            "assigned_doc_id",
            F.concat_ws(
                "-",
                F.col(source_col),
                F.lpad(
                    (F.row_number().over(w_local) + F.col("_off"))
                    .cast("string"),
                    9,
                    "0",
                ),
            ),
        )
        .drop("_bkt", "_off_src", "_off_bkt", "_off")
    )


def anti_join_history(df: DataFrame, history: DataFrame,
                      key: str = "url_hash") -> DataFrame:
    """A12/B6: cross-dump dedup as an anti-join (deduplicate.py:10-56 —
    the driver-memory hash set becomes a distributed anti-join)."""
    return df.join(history.select(key), key, "left_anti")


def filter_doc_urls(df: DataFrame, url_col: str = "url") -> DataFrame:
    """A3: keep candidate .doc/.docx urls (cc_url_process.py:37)."""
    return df.filter(
        # \z, not $: Java's '$' also matches before a trailing newline;
        # \z (end-of-input) is the semantics RE2's '$' gives the DuckDB
        # oracle, and both dialects accept the escape.
        F.col(url_col).rlike(r"^(www|http:|https:).*[0-9A-Za-z_]\.docx?\z")
    )


def _clean_url(url: str) -> str | None:
    """A11 url cleaning (ref: preprocess_cc_urls.py:33-69): unquote, then
    slice from the last plausible scheme start so that wrapped/concatenated
    urls yield the innermost well-formed one."""
    if url is None:
        return None
    u = unquote(url.strip())
    starts = [m.start() for m in _URL_START.finditer(u)]
    if not starts:
        return None
    # slice from the last scheme marker: wrapped/concatenated urls yield the
    # innermost candidate (the reference additionally re-validates against
    # the .doc/.docx pattern downstream — filter_doc_urls here)
    return u[starts[-1]:]


def clean_urls(df: DataFrame) -> DataFrame:
    """Arrow-UDF url cleaner (branchy logic, Arrow-batched)."""

    @F.arrow_udf(StringType())
    def clean(batches: Iterator[pa.Array]) -> Iterator[pa.Array]:
        for urls in batches:
            yield pa.array(
                [_clean_url(u) for u in urls.to_pylist()], pa.string()
            )

    return df.withColumn("clean_url", clean(F.col("url")))


# --- RefinedWeb-style URL quality filtering ---------------------------
#
# Beyond the reference's .doc-harvest stage A: general pretraining
# corpora gate documents on the URL itself before fetching anything
# (RefinedWeb, Penedo et al. 2023 §3.1 + App. G.1): an exact domain
# blocklist (UT1-style) plus a weighted soft-word score over the whole
# URL.  Both are per-row expressions — the blocklist compiles to an In
# predicate, the score to a CASE sum — so the operator is zero-Exchange
# at any corpus size.

DOMAIN_PATTERN = r"^(?:https?://)?(?:www\.)?([^/:?#]+)"

# mechanism-demonstrating stand-ins for the UT1 adult/spam lists (the
# real lists are ~4M domains)
DEFAULT_BLOCKLIST: tuple[str, ...] = (
    "casino-winners.example", "cheap-pills.example",
    "adult-content.example", "spam-farm.example",
)

# (word, weight): strict terms score 1.0 alone, ambiguous terms need a
# co-occurring signal to cross the default 1.0 cutoff
DEFAULT_URL_WORDS: tuple[tuple[str, float], ...] = (
    ("porn", 1.0), ("xxx", 1.0), ("viagra", 1.0), ("casino", 1.0),
    ("escort", 1.0), ("sex", 0.5), ("adult", 0.5), ("gambling", 0.5),
    ("webcam", 0.5), ("pills", 0.5),
)

DEFAULT_SCORE_CUTOFF = 1.0


def url_quality_filter(
    df: DataFrame,
    url_col: str = "url",
    blocklist: tuple[str, ...] = DEFAULT_BLOCKLIST,
    words: tuple[tuple[str, float], ...] = DEFAULT_URL_WORDS,
    score_cutoff: float = DEFAULT_SCORE_CUTOFF,
) -> DataFrame:
    """(urls) → (url, domain, blocked_domain, url_score, url_pass).

    ``domain`` is the lowercased host with any ``www.`` prefix dropped
    (regexp, identical semantics in the DuckDB oracle); ``url_score``
    sums the weights of every word substring-matched against the whole
    lowercased URL; ``url_pass`` requires no blocklist hit and score
    < ``score_cutoff``.

    Scale shape: with the in-literal ``blocklist`` the whole operator is
    one projection (zero Exchange, pinned in test).
    """
    lower_url = F.lower(F.coalesce(F.col(url_col), F.lit("")))
    domain = F.regexp_extract(lower_url, DOMAIN_PATTERN, 1)
    score = None
    for word, weight in words:
        term = F.when(F.contains(lower_url, F.lit(word)),
                      F.lit(float(weight))).otherwise(F.lit(0.0))
        score = term if score is None else score + term
    return (
        df.withColumn("domain", domain)
        .withColumn(
            "url_score",
            F.round(score if score is not None else F.lit(0.0), 6),
        )
        .withColumn(
            "blocked_domain",
            F.col("domain").isin(*blocklist) if blocklist else F.lit(False),
        )
        .withColumn(
            "url_pass",
            ~F.col("blocked_domain") & (F.col("url_score") < score_cutoff),
        )
    )


def domain_cap(
    df: DataFrame,
    max_per_domain: int,
    host_col: str = "domain",
    key_col: str = "url",
    n_streams: int | None = None,
) -> DataFrame:
    """RefinedWeb-style per-domain document cap (Penedo et al. 2023
    §3.1 keeps a bounded number of documents per registered domain so
    no single site dominates the corpus): keep a deterministic subset
    of at most ``max_per_domain`` rows per domain, selected by md5
    order of ``key_col``.

    Scale shape — the mega-domain trap: the naive cap is
    ``row_number() OVER (PARTITION BY domain) <= N``, which sorts every
    row of the dominant domain in ONE task.  Here each domain
    decomposes into ``n_streams`` md5 streams (the scheduler/shard_pack
    device) with per-stream quotas ``N div S`` (+1 for the first
    ``N mod S`` streams): every sort partition is bounded at
    ~|domain|/n_streams, and the cap holds exactly as an upper bound.
    Residual approximation (same note as ``shard_pack``'s overflow): a
    domain with MORE than N rows can keep fewer than N when its stream
    distribution is skewed (an under-filled stream's quota is not
    re-granted elsewhere) — acceptable for corpus balancing, where the
    cap is the contract and the exact membership is free.
    """
    from pyspark.sql.window import Window

    if max_per_domain <= 0:
        raise ValueError("max_per_domain must be positive")
    if n_streams is None:
        n_streams = min(16, max_per_domain)
    h = (
        f"CAST(conv(substr(md5(CAST({key_col} AS STRING)), 1, 8), 16, 10)"
        f" AS BIGINT)"
    )
    base, extra = divmod(max_per_domain, n_streams)
    w = Window.partitionBy(host_col, "_dc_stream").orderBy(
        "_dc_key", key_col
    )
    return (
        df.withColumn("_dc_stream", F.expr(f"pmod({h}, {n_streams})"))
        .withColumn("_dc_key", F.expr(h))
        .withColumn("_dc_rank", F.row_number().over(w))
        .filter(
            F.col("_dc_rank")
            <= F.lit(base) + F.when(F.col("_dc_stream") < extra, 1).otherwise(0)
        )
        .drop("_dc_stream", "_dc_key", "_dc_rank")
    )
