"""Stage-B HTTP document acquisition — the reference's download worker as
a Spark source operator.

Reference behavior re-expressed (app/src/data_sources/download_process.py:
237-381, http_handlers.py:41-133, download_exceptions.py:55-102,
settings/download.py:4-16): per URL, a HEAD request gates on content-type
(``(application|text)/.*(openxml|word|doc|msword|msdownload|rtf)`` after
lowercasing and removing '-') and content-length (unknown passes, over
``MAX_FILESIZE`` rejects), then a GET fetches the body, whose real length
is re-gated.  Every failure becomes a RECORD ROW (status/exception
columns), never a task failure — the reference writes the same per-URL
audit records to its sources DB.

Spark shape: one ``map_rows`` pass over the URL table — no shuffle; the
operator is IO-bound, so parallelism comes from the table's partitioning
(repartition the URL list to ≫ executor-thread count upstream; each task
runs its own fetch loop, the moral analog of the reference's worker pool).

The TRANSPORT is injectable (this sandbox has no network): ``fetcher`` is
a picklable ``Callable[[url, method], (status, headers, body|None)]``.
``urllib_fetcher()`` adapts the stdlib client for real clusters (shared
nothing, lazy per-executor — no session object crosses the driver
boundary); ``demo_fetcher`` is a deterministic pure-function transport
whose responses are mirrorable in SQL, giving the driver gate a real
rows+schema+hash check over the gate logic itself.
"""

from __future__ import annotations

import functools
import hashlib
import re
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame

from wordscape_spark.sources.ingest import map_rows

MAX_FILESIZE = 90 * 1024 * 1024  # ref settings/download.py:4

# ref settings/download.py:13-16 (content type sanitized first:
# lowercase, '-' removed — download_exceptions.py:72)
VALID_CT_REGEX = re.compile(
    r"(application|text)/.*(openxml|word|doc|msword|msdownload|rtf).*",
    re.IGNORECASE | re.DOTALL,
)

ACQUIRE_SCHEMA = (
    "url string, status_code int, content_type string, "
    "content_length bigint, exception string, content binary"
)


def valid_content_type(ct: str | None) -> tuple[str | None, str | None]:
    """(sanitized content type, error) — unknown passes, like the
    reference (download_exceptions.py:55-77)."""
    if ct is None:
        return None, None
    ct = ct.lower().replace("-", "")
    if VALID_CT_REGEX.match(ct) is None:
        return ct, "invalid_content_type"
    return ct, None


def valid_content_length(
    cl, max_filesize: int
) -> tuple[int | None, str | None]:
    """(parsed length, error) — unknown/unparsable passes, like the
    reference (download_exceptions.py:80-102)."""
    try:
        cl = int(cl)
    except (TypeError, ValueError):
        return None, None
    if cl > max_filesize:
        return cl, "file_size_exceeded"
    return cl, None


def _acquire_one(url: str, fetcher, max_filesize: int) -> dict:
    """HEAD gate → GET → body gate for one URL; exceptions become row
    markers (per-URL fault isolation — a dead host must not fail the
    task, ref download_process.py:284-289 logs and records)."""
    row = {
        "url": url,
        "status_code": None,
        "content_type": None,
        "content_length": None,
        "exception": None,
        "content": None,
    }
    try:
        status, headers, _ = fetcher(url, "head")
    except Exception as e:  # noqa: BLE001 — isolation boundary
        row["exception"] = f"head_error:{type(e).__name__}"
        return row
    headers = {str(k).lower(): v for k, v in (headers or {}).items()}
    row["status_code"] = int(status)
    if not 200 <= int(status) < 300:
        row["exception"] = f"http_{int(status)}"
        return row
    ct, err = valid_content_type(headers.get("content-type"))
    row["content_type"] = ct
    if err:
        row["exception"] = err
        return row
    cl, err = valid_content_length(headers.get("content-length"), max_filesize)
    row["content_length"] = cl
    if err:
        row["exception"] = err
        return row
    try:
        status, _, body = fetcher(url, "get")
    except Exception as e:  # noqa: BLE001 — isolation boundary
        row["exception"] = f"get_error:{type(e).__name__}"
        return row
    row["status_code"] = int(status)
    if not 200 <= int(status) < 300:
        row["exception"] = f"http_{int(status)}"
        return row
    body = body or b""
    row["content_length"] = len(body)
    if len(body) > max_filesize:  # real size re-gated (body_handler:126-130)
        row["exception"] = "file_size_exceeded"
        return row
    row["content"] = bytes(body)
    return row


def acquire_documents(
    df: DataFrame, fetcher, max_concurrency: int = 1
) -> DataFrame:
    """(url) → one audit row per URL with the fetched bytes on success.

    ``fetcher(url, method)`` → ``(status, headers, body|None)`` is the
    injectable transport; see module docstring.  Zero shuffle; IO
    parallelism = input partition count × ``max_concurrency``: the fetch
    is latency-bound, so each task additionally overlaps up to
    ``max_concurrency`` in-flight requests per Arrow batch with a thread
    pool (the moral analog of the reference's per-worker session reuse +
    multiprocessing pool, download_process.py:237-263) — row order and
    content are identical to the sequential path (order-preserving map;
    pinned by test)."""
    one = functools.partial(
        _acquire_one, fetcher=fetcher, max_filesize=MAX_FILESIZE
    )

    def fetch(rows):
        urls = [url for (url,) in rows]
        if max_concurrency > 1:
            with ThreadPoolExecutor(max_workers=max_concurrency) as pool:
                out = list(pool.map(one, urls))
        else:
            out = [one(url) for url in urls]
        # _acquire_one's dict keys are in ACQUIRE_SCHEMA order
        return [tuple(row.values()) for row in out]

    return map_rows(df.select("url"), fetch, ACQUIRE_SCHEMA)


# ---------------------------------------------------------------------------
# transports
# ---------------------------------------------------------------------------


def _urllib_fetch(url: str, method: str, timeout: float, max_bytes: int):
    import urllib.request

    req = urllib.request.Request(url, method=method.upper())
    with urllib.request.urlopen(req, timeout=timeout) as resp:  # noqa: S310
        headers = dict(resp.headers.items())
        status = resp.status
        if method.lower() == "head":
            return status, headers, None
        # read one byte past the cap so the body gate sees the overflow
        return status, headers, resp.read(max_bytes)


def urllib_fetcher(timeout: float = 30.0, max_bytes: int = MAX_FILESIZE + 1):
    """Real stdlib transport for clusters with network access — a
    picklable partial over a module-level function (no session object
    crosses the driver→executor boundary; the reference shares one
    requests.Session per worker the same way)."""
    return functools.partial(_urllib_fetch, timeout=timeout, max_bytes=max_bytes)


def demo_fetcher(url: str, method: str):
    """Deterministic pure-function transport: every response is a fixed
    function of md5(url), mirrorable in SQL — the driver-gate surrogate
    exercising every gate path (404s, invalid content types, oversize
    declared and undeclared lengths, success).

    h = first 8 md5-hex digits of the url as an int:
    * h % 7 == 2  → 404;
    * h % 4 == 0  → content-type text/html (fails the CT gate);
    * h % 5 == 1  → content-length header withheld (unknown passes HEAD;
      the BODY gate catches any oversize);
    * body = md5 hex digits repeated to n = 64 + h % 2048 bytes."""
    seed = hashlib.md5(url.encode()).hexdigest()
    h = int(seed[:8], 16)
    if h % 7 == 2:
        return 404, {}, None if method == "head" else b""
    n = 64 + (h % 2048)
    headers = {
        "Content-Type": "text/html" if h % 4 == 0 else "application/msword"
    }
    if h % 5 != 1:
        headers["Content-Length"] = str(n)
    if method == "head":
        return 200, headers, None
    body = (seed * (n // 32 + 1))[:n].encode("ascii")
    return 200, headers, body
