"""Deterministic synthetic WAT fixture generator.

Renders a small Common Crawl-layout WAT corpus (multi-member gzip, one
member per WARC record, WARC/1.0 framing) plus a ground-truth parquet of
every link string embedded in it: ``(record_uri, rec_type, url)``.  The
truth table is written from the GENERATOR's inputs, before any WARC bytes
exist — so the dual-dialect oracle recomputes the expected result (filter
to metadata records, anchored doc-URL regex) from data the parser never
touches, and the WAT byte framing, record-type skip, JSON recursion and
pattern match are all genuinely under test.

Adversarial content baked in, mirroring what real WAT payloads do:
* request/response records carrying doc-URLs (must be skipped — the
  reference's rec_type filter, cc_url_process.py:239-241);
* matching urls at several JSON nesting depths (dict→list→dict);
* near-misses: .pdf/.html links, ``.doc`` without a word char before the
  dot, whitespace inside, ``ftp:`` scheme, and a .DOC in uppercase
  (re.match is case-sensitive — stays out);
* one record whose payload is not valid JSON (skipped, never raises);
* trailing garbage after the last gzip member (truncation tolerance).

Everything is seeded — same sf ⇒ byte-identical files, any round, any
machine (datagen.py discipline).
"""

from __future__ import annotations

import gzip
import json
import pathlib
import random

import pyarrow as pa
import pyarrow.parquet as pq

from wordscape_spark import datagen

BASE_DIR = datagen.DATA_DIR / "wat"
WATGEN_VERSION = 1

_TLDS = ["com", "org", "net", "edu", "gov"]
_WORDS = ("annual report form policy minutes agenda budget survey notice "
          "handbook application grant filing memo charter").split()


def n_records_for_sf(sf: float) -> int:
    return max(12, int(round(sf * 4000)))


def _doc_url(rng: random.Random, i: int) -> str:
    scheme = rng.choice(["https://", "http://", "www."])
    host = f"{rng.choice(_WORDS)}{i}.{rng.choice(_TLDS)}"
    name = "-".join(rng.sample(_WORDS, k=2))
    ext = rng.choice(["doc", "docx"])
    return f"{scheme}{host}/files/{name}.{ext}"


def _near_miss(rng: random.Random, i: int) -> str:
    kind = rng.randrange(6)
    if kind == 0:
        return f"https://site{i}.com/page{i}.html"
    if kind == 1:
        return f"https://site{i}.com/paper{i}.pdf"
    if kind == 2:
        return f"https://site{i}.com/odd..doc"  # no \w before the dot
    if kind == 3:
        return f"https://site{i}.com/a b.docx"  # whitespace inside
    if kind == 4:
        return f"ftp://site{i}.com/file{i}.doc"  # wrong scheme
    return f"HTTPS://SITE{i}.COM/FILE{i}.DOC"  # case-sensitive match


def _payload_json(uri: str, links: list[str], rng: random.Random) -> dict:
    """WAT-shaped envelope with links scattered across nesting depths."""
    shuffled = links[:]
    rng.shuffle(shuffled)
    link_objs = [
        {"path": "A@/href", "url": u} for u in shuffled[: len(shuffled) // 2]
    ]
    deep = shuffled[len(shuffled) // 2:]
    return {
        "Envelope": {
            "WARC-Header-Metadata": {"WARC-Target-URI": uri},
            "Payload-Metadata": {
                "HTTP-Response-Metadata": {
                    "HTML-Metadata": {
                        "Links": link_objs,
                        "Head": {
                            "Metas": [
                                {"name": "canonical", "content": u}
                                for u in deep
                            ]
                        },
                    }
                }
            },
        }
    }


def _warc_record(rec_type: str, uri: str, payload: bytes) -> bytes:
    head = (
        "WARC/1.0\r\n"
        f"WARC-Type: {rec_type}\r\n"
        f"WARC-Target-URI: {uri}\r\n"
        "Content-Type: application/json\r\n"
        f"Content-Length: {len(payload)}\r\n"
        "\r\n"
    ).encode()
    return head + payload + b"\r\n\r\n"


def generate(sf: float) -> tuple[list[bytes], list[dict]]:
    """(per-file WAT byte strings, truth rows).  Truth rows carry EVERY
    embedded link with its record's type — matching is the oracle's job."""
    rng = random.Random(int(sf * 1_000_000) ^ 0x5747)  # 'WG'
    n = n_records_for_sf(sf)
    files: list[list[bytes]] = [[], []]
    truth: list[dict] = []
    for i in range(n):
        uri = f"https://crawl{i}.{rng.choice(_TLDS)}/index{i}.html"
        links = [_doc_url(rng, i * 10 + j) for j in range(rng.randrange(4))]
        links += [_near_miss(rng, i * 10 + j) for j in range(rng.randrange(3))]
        rng.shuffle(links)
        rec_type = "metadata" if i % 4 else rng.choice(["request", "response"])
        payload = json.dumps(_payload_json(uri, links, rng)).encode()
        if i == 7:  # malformed JSON payload: parser must skip, not raise
            payload = b'{"Envelope": [truncated'
            links = []
        files[i % 2].append(
            gzip.compress(_warc_record(rec_type, uri, payload), mtime=0)
        )
        truth.extend(
            {"record_uri": uri, "rec_type": rec_type, "url": u}
            for u in links
        )
    files[1].append(b"\x00trailing-garbage")  # truncation tolerance
    return [b"".join(members) for members in files], truth


def ensure_wat(sf: float) -> tuple[str, str]:
    """Idempotently materialize the WAT fixture for a scale factor.

    Returns ``(wat_dir, truth_parquet_path)``; every file is written
    atomically (``datagen.write_atomic``), the truth table last."""
    out_dir = BASE_DIR / f"v{datagen.DATAGEN_VERSION}.{WATGEN_VERSION}" / f"sf{sf:g}"
    truth = out_dir / "links.parquet"
    if truth.exists():
        return str(out_dir), str(truth)
    datagen.make_data_dir(out_dir)
    file_bytes, rows = generate(sf)
    for i, data in enumerate(file_bytes):
        datagen.write_atomic(
            out_dir / f"part-{i:05d}.wat.gz",
            lambda tmp: pathlib.Path(tmp).write_bytes(data),
        )
    table = pa.Table.from_pylist(
        rows,
        schema=pa.schema(
            [
                ("record_uri", pa.string()),
                ("rec_type", pa.string()),
                ("url", pa.string()),
            ]
        ),
    )
    datagen.write_atomic(truth, lambda tmp: pq.write_table(table, tmp))
    return str(out_dir), str(truth)
