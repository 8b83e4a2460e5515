"""Politeness scheduler (operators/scheduler.py): the per-host
≤1-URL-per-wave invariant must hold exactly, the assignment must match
a pure-Python re-derivation, and the windows must partition on
(host, stream) — never a whole host."""

import hashlib

import pytest

from wordscape_spark.operators import scheduler

N_STREAMS = 4

URLS = (
    # one mega-host, two small hosts, one singleton
    [("big.example", f"https://big.example/p{i}") for i in range(37)]
    + [("a.example", f"https://a.example/x{i}") for i in range(5)]
    + [("b.example", f"https://b.example/y{i}") for i in range(3)]
    + [("solo.example", "https://solo.example/only")]
)


def _h(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _py_waves():
    waves = {}
    by_hs: dict[tuple, list] = {}
    for host, url in URLS:
        by_hs.setdefault((host, _h(url) % N_STREAMS), []).append(url)
    for (host, stream), us in by_hs.items():
        for rank, url in enumerate(sorted(us, key=lambda u: (_h(u), u))):
            waves[url] = rank * N_STREAMS + stream
    return waves


@pytest.fixture(scope="module")
def urls_df(spark):
    return spark.createDataFrame(URLS, "host string, url string")


@pytest.fixture(scope="module")
def scheduled(urls_df):
    return scheduler.schedule_waves(urls_df, n_streams=N_STREAMS).cache()


def test_waves_match_python(scheduled):
    got = {r["url"]: r["wave"] for r in scheduled.collect()}
    assert got == _py_waves()


def test_politeness_invariant(scheduled):
    """No two URLs of one host in the same wave — exactly, including
    on the mega-host."""
    rows = scheduled.collect()
    seen = set()
    for r in rows:
        key = (r["host"], r["wave"])
        assert key not in seen, key
        seen.add(key)


def test_mega_host_finishes_in_bounded_waves(scheduled):
    """Max wave on the mega-host = (max stream occupancy − 1)·n_streams
    + stream < max_occupancy·n_streams — streams are md5-hashed, so the
    bound is the ACTUAL heaviest stream, not a round-robin ceil."""
    big = [r["wave"] for r in scheduled.collect() if r["host"] == "big.example"]
    assert len(big) == 37
    occupancy: dict[int, int] = {}
    for host, url in URLS:
        if host == "big.example":
            s = _h(url) % N_STREAMS
            occupancy[s] = occupancy.get(s, 0) + 1
    assert max(big) < max(occupancy.values()) * N_STREAMS


def test_window_partitions_on_stream_not_host(urls_df):
    plan = (
        scheduler.schedule_waves(urls_df, n_streams=N_STREAMS)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the sort/window keys must include the stream decomposition
    assert "_sched_stream" in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "_sched_stream" in line, line


def test_invalid_streams_raise(urls_df):
    with pytest.raises(ValueError):
        scheduler.schedule_waves(urls_df, n_streams=0)
