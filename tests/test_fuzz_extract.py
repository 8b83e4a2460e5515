"""Fuzz the span-equality invariant: adversarial random documents (edge-case
heavy, beyond datagen's archetypes) must classify identically through the
Spark pipeline — forced down the salted path — and the single-node oracle."""

import dataclasses
import random

import pytest
from pyspark.sql import Row

from wordscape_spark import signal as sig
from wordscape_spark.config import DEFAULT_CONFIG
from wordscape_spark.core import classify as C
from wordscape_spark.operators import extract as X

WEIRD_TEXTS = [
    "", " ", "\t", "\r", "a\rb", "____", "..", "…" * 6, '"q"', "'q'",
    "1. x", "a) b", "- c", "• d", "word", "  spaced  ", "\n", "x" * 180,
    "0" * 10, "äöü", "_" * 3, "_" * 5, ". . .", "end__", "__start",
]
STYLES = [
    "", "normal", "heading 1", "heading 9", "title", "toc 1", "macro",
    "quote", "list bullet", "caption", "weird style", "subtitle",
    "footnote text", "no spacing",
]
SIZES = [sig.FONT_UNKNOWN, 8.0, 11.0, 11.5, 14.0, 24.0]
TRIS = [None, True, False]


def fuzz_doc(rng: random.Random) -> list[tuple]:
    spans = []
    par = 0
    tbl = 0
    for _ in range(rng.randint(1, 40)):
        roll = rng.random()
        if roll < 0.6:
            # body paragraph with 1-5 runs
            style = rng.choice(STYLES)
            psz = rng.choice(SIZES)
            pb, pi = rng.choice(TRIS), rng.choice(TRIS)
            math = rng.random() < 0.1
            numbered = rng.random() < 0.1
            for _r in range(rng.randint(1, 5)):
                spans.append(
                    (
                        sig.encode_run(
                            par=par, style=style, par_size=psz,
                            par_bold=pb, par_italic=pi,
                            size=rng.choice(SIZES), bold=rng.choice(TRIS),
                            italic=rng.choice(TRIS),
                            underline=rng.random() < 0.15,
                            math=math, numbered=numbered,
                        ),
                        rng.choice(WEIRD_TEXTS),
                        None,
                    )
                )
            par += 1
        elif roll < 0.75:
            t = tbl
            tbl += 1
            for r in range(rng.randint(1, 3)):
                for c in range(rng.randint(1, 3)):
                    spans.append(
                        (
                            sig.encode_cell(t, r, c, header=rng.random() < 0.4),
                            rng.choice(WEIRD_TEXTS),
                            None,
                        )
                    )
        elif roll < 0.85:
            spans.append(("fig", "", f"media/x{rng.randint(0, 3)}.png"))
        elif roll < 0.95:
            tag = rng.choice(["hp", "fp", "xp"])
            spans.append((f"{tag};p={par}", rng.choice(WEIRD_TEXTS), None))
            par += 1
        else:
            g = rng.choice(["toc gallery", "bibliography", "bib list", ""])
            spans.append((sig.encode_sdt(g), rng.choice(WEIRD_TEXTS), None))
    return [(k, t, m, i) for i, (k, t, m) in enumerate(spans)]


def test_fuzz_salted_matches_oracle(spark):
    """The full salted row, min-text gate included: with no minimum every
    doc classifies, and the default minimum rejects salted docs too."""
    rng = random.Random(20260816)
    docs = {f"fz-{i:04d}": fuzz_doc(rng) for i in range(300)}

    rows = [
        Row(
            doc_id=doc_id,
            spans=[
                Row(kind=k, text=t, media_ref=m, offset=o)
                for (k, t, m, o) in spans
            ],
        )
        for doc_id, spans in docs.items()
    ]
    df = spark.createDataFrame(rows, schema=X.INPUT_SCHEMA)
    for min_text in (0, DEFAULT_CONFIG.min_text_chars):
        cfg = dataclasses.replace(
            DEFAULT_CONFIG, min_text_chars=min_text, salt_threshold=5,
            salt_chunk_spans=4,
        )
        got = {r["doc_id"]: r for r in X.extract(df, cfg).collect()}
        salted_min_text = 0
        for doc_id, spans in docs.items():
            expected = C.classify_document(spans, cfg)
            g = got[doc_id]
            assert g["ok"] == expected.ok, doc_id
            assert g["reject_reason"] == expected.reject_reason, doc_id
            salted_min_text += (
                expected.reject_reason == "min_text" and len(spans) > 5
            )
            got_spans = [
                (s["kind"], s["text"], s["media_ref"], s["offset"])
                for s in g["spans"]
            ]
            assert got_spans == expected.spans, doc_id
            assert [s["page"] for s in g["spans"]] == expected.span_pages
            assert g["text"] == expected.text, doc_id
            assert dict(g["counts"]) == expected.counts, doc_id
            assert g["quality"] == pytest.approx(expected.quality), doc_id
            assert [
                (p["page"], p["text"], dict(p["counts"])) for p in g["pages"]
            ] == [(p, t, dict(c)) for p, t, c in expected.pages], doc_id
            assert dict(g["props"]) == expected.props, doc_id
            assert list(g["lang_tags"]) == expected.lang_tags, doc_id
        # the default minimum reaches the salted merge's min-text gate
        assert min_text == 0 or salted_min_text > 0


def test_fuzz_flat_decode_path(spark):
    """Same adversarial docs through the UNSALTED hot path (mapInArrow with
    flat-child leaf decode — no per-span dicts): must still equal the
    single-node oracle span-for-span."""
    rng = random.Random(20260817)
    cfg = dataclasses.replace(DEFAULT_CONFIG, min_text_chars=0)
    docs = {f"ff-{i:04d}": fuzz_doc(rng) for i in range(300)}

    rows = [
        Row(
            doc_id=doc_id,
            spans=[
                Row(kind=k, text=t, media_ref=m, offset=o)
                for (k, t, m, o) in spans
            ],
        )
        for doc_id, spans in docs.items()
    ]
    df = spark.createDataFrame(rows, schema=X.INPUT_SCHEMA)
    got = {r["doc_id"]: r for r in X.extract(df, cfg).collect()}

    for doc_id, spans in docs.items():
        expected = C.classify_document(spans, cfg)
        g = got[doc_id]
        assert g["ok"] == expected.ok, doc_id
        got_spans = [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in g["spans"]
        ]
        assert got_spans == expected.spans, doc_id
        assert g["text"] == expected.text, doc_id
        assert dict(g["counts"]) == expected.counts, doc_id
        assert g["quality"] == pytest.approx(expected.quality), doc_id
