"""Stage-B HTTP acquisition source (sources/http.py): gate semantics vs
the reference's download worker (download_exceptions.py:55-102,
http_handlers.py:41-133), per-URL fault isolation, and the demo
transport's SQL-mirrorability contract."""

import hashlib
import pickle

import pytest

from wordscape_spark.sources import http as H


# ---------------------------------------------------------------------------
# pure gate functions (no Spark)
# ---------------------------------------------------------------------------


def test_content_type_gate():
    # unknown passes (ref download_exceptions.py:67-69)
    assert H.valid_content_type(None) == (None, None)
    # sanitization: lowercase + '-' removed before the regex
    ct, err = H.valid_content_type("Application/VND.MS-Word.Document")
    assert ct == "application/vnd.msword.document" and err is None
    ct, err = H.valid_content_type("text/html")
    assert err == "invalid_content_type"
    for good in (
        "application/msword",
        "application/vnd.openxmlformats-officedocument.wordprocessingml.document",
        "text/rtf",
        "application/x-msdownload",
    ):
        assert H.valid_content_type(good)[1] is None, good


def test_content_length_gate():
    # unknown/unparsable passes (ref download_exceptions.py:86-93)
    assert H.valid_content_length(None, 100) == (None, None)
    assert H.valid_content_length("garbage", 100) == (None, None)
    assert H.valid_content_length("100", 100) == (100, None)
    assert H.valid_content_length(101, 100) == (101, "file_size_exceeded")


def test_urllib_fetcher_is_picklable():
    # the transport crosses the driver→executor boundary; a partial over a
    # module-level function survives plain pickle (no session object)
    f = H.urllib_fetcher(timeout=5.0)
    g = pickle.loads(pickle.dumps(f))
    assert g.keywords["timeout"] == 5.0


# ---------------------------------------------------------------------------
# _acquire_one paths (driver-side, deterministic fetchers)
# ---------------------------------------------------------------------------


def test_acquire_one_success_and_gates():
    def fetcher(url, method):
        if "missing" in url:
            return 404, {}, b""
        if "html" in url:
            return 200, {"Content-Type": "text/html"}, b""
        if "big-declared" in url:
            # declared oversize must reject at HEAD; GET raising proves the
            # GET was never issued
            if method == "get":
                raise AssertionError("GET issued after HEAD reject")
            return 200, {"Content-Type": "application/msword",
                         "Content-Length": "1000"}, None
        if "big-body" in url:
            # undeclared length passes HEAD; the body gate catches it
            return 200, {"Content-Type": "application/msword"}, b"x" * 1000
        if "dead" in url:
            raise ConnectionError("boom")
        return 200, {"Content-Type": "application/msword",
                     "Content-Length": "4"}, b"DOCX"

    cap = 100
    ok = H._acquire_one("http://a/ok.doc", fetcher, cap)
    assert ok["exception"] is None and ok["content"] == b"DOCX"
    assert ok["content_length"] == 4 and ok["status_code"] == 200
    assert H._acquire_one("http://a/missing", fetcher, cap)["exception"] == "http_404"
    assert (
        H._acquire_one("http://a/html", fetcher, cap)["exception"]
        == "invalid_content_type"
    )
    assert (
        H._acquire_one("http://a/big-declared", fetcher, cap)["exception"]
        == "file_size_exceeded"
    )
    body = H._acquire_one("http://a/big-body", fetcher, cap)
    assert body["exception"] == "file_size_exceeded" and body["content"] is None
    dead = H._acquire_one("http://a/dead", fetcher, cap)
    assert dead["exception"] == "head_error:ConnectionError"
    assert dead["status_code"] is None


# ---------------------------------------------------------------------------
# Spark operator (one map_rows pass, zero shuffle) + demo transport
# ---------------------------------------------------------------------------


def _demo_expect(url: str) -> dict:
    """Independent pure-python rederivation of demo_fetcher's contract."""
    seed = hashlib.md5(url.encode()).hexdigest()
    h = int(seed[:8], 16)
    if h % 7 == 2:
        return {"exception": "http_404", "content": None}
    if h % 4 == 0:
        return {"exception": "invalid_content_type", "content": None}
    n = 64 + (h % 2048)
    return {"exception": None, "content": (seed * (n // 32 + 1))[:n].encode()}


def test_acquire_documents_spark(spark):
    urls = [f"https://example.com/site{i}/file{i}.docx" for i in range(64)]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    out = H.acquire_documents(df, H.demo_fetcher).collect()
    assert len(out) == 64
    got = {r["url"]: r for r in out}
    paths = set()
    for u in urls:
        exp = _demo_expect(u)
        r = got[u]
        assert r["exception"] == exp["exception"], u
        content = bytes(r["content"]) if r["content"] is not None else None
        assert content == exp["content"], u
        if exp["exception"] is None:
            assert r["content_length"] == len(exp["content"])
        paths.add(exp["exception"])
    # the demo transport must exercise every gate path at this n
    assert paths == {None, "http_404", "invalid_content_type"}


def test_acquire_documents_plan_has_no_exchange(spark):
    df = spark.range(8).selectExpr("concat('http://x/', id) AS url")
    out = H.acquire_documents(df, H.demo_fetcher)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_acquire_concurrent_equals_sequential(spark):
    # the thread-pool path must be an order/content no-op vs sequential
    df = spark.range(48).selectExpr("concat('http://x/', id) AS url")
    seq = H.acquire_documents(df, H.demo_fetcher).toPandas()
    par = H.acquire_documents(df, H.demo_fetcher, max_concurrency=8).toPandas()
    assert seq.equals(par)


def test_acquire_documents_fault_isolation(spark):
    # a fetcher that dies on half the URLs must still yield one row per URL
    def flaky(url, method):
        if url.endswith(("0", "2", "4", "6", "8")):
            raise TimeoutError("dead host")
        return H.demo_fetcher(url, method)

    df = spark.range(10).selectExpr("concat('http://x/', id) AS url")
    rows = H.acquire_documents(df, flaky).collect()
    assert len(rows) == 10
    errs = {r["url"]: r["exception"] for r in rows}
    assert errs["http://x/0"] == "head_error:TimeoutError"
