"""Per-host politeness scheduler: assign every URL in a fetch batch a
``wave`` number such that no two URLs of the same host share a wave — a
fetcher that executes wave-by-wave then issues at most one request per
host per wave, the per-host serialization every polite crawler since
Mercator (Heydon & Najork 1999, §3.2's host-keyed queues) enforces;
pairs with the RFC 9309 gate (operators/robots.py) and the HTTP source
(sources/http.py) to complete the acquisition battery: harvest →
robots → schedule → fetch.

Deterministic and oracle-mirrorable: ordering inside a host is the
md5-prefix integer of the URL (the repo's dual-dialect hash), not
arrival order.

Scale shape — the mega-host trap: the naive schedule is
``row_number() OVER (PARTITION BY host)``, which sorts every URL of the
dominant host in ONE task (the exact one-partition window smell
shard_pack and token_budget_filter were rebuilt to avoid).  Here each
host decomposes into ``n_streams`` md5 streams; ranks are per
(host, stream) — bounding every sort partition at ~|host|/n_streams —
and ``wave = (rank-1)·n_streams + stream`` re-interleaves the streams
into disjoint wave numbers (streams are distinct mod n_streams, ranks
distinct within a stream), so the ≤1-URL-per-host-per-wave invariant
holds exactly, not approximately.  ``n_streams`` scales politeness
throughput too: a host with k URLs finishes in ceil(k/n_streams)·
n_streams waves, and hosts progress independently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

DEFAULT_STREAMS = 16


def _md5_int(expr: str) -> str:
    return (
        f"CAST(conv(substr(md5(CAST({expr} AS STRING)), 1, 8), 16, 10)"
        f" AS BIGINT)"
    )


def schedule_waves(
    urls: DataFrame,
    host_col: str = "host",
    url_col: str = "url",
    n_streams: int = DEFAULT_STREAMS,
) -> DataFrame:
    """The input plus a ``wave`` column (0-based).  Within a host all
    waves are distinct; the windows sort (host, stream) slices, never a
    whole host."""
    if n_streams <= 0:
        raise ValueError("n_streams must be positive")
    h = _md5_int(url_col)
    with_stream = urls.withColumn(
        "_sched_stream", F.expr(f"pmod({h}, {n_streams})")
    ).withColumn("_sched_key", F.expr(h))
    w = Window.partitionBy(host_col, "_sched_stream").orderBy(
        "_sched_key", url_col
    )
    return (
        with_stream.withColumn(
            "wave",
            (F.row_number().over(w) - 1) * n_streams
            + F.col("_sched_stream"),
        )
        .drop("_sched_stream", "_sched_key")
    )
