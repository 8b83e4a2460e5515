"""Pluggable backend injection: the production swap points (PIL/ffmpeg
decode, fastText langid, KenLM perplexity) accept injected callables that
run through the SAME ``map_rows`` / Arrow-UDF plumbing as the surrogates —
a cluster user swaps backends without editing operators."""

import pyspark.sql.functions as F
import pytest

from wordscape_spark.operators import multimodal as MM
from wordscape_spark.operators.langid_trigram import with_trigram_langid
from wordscape_spark.operators.perplexity import with_perplexity


@pytest.fixture(scope="module")
def media(spark):
    df = spark.createDataFrame(
        [
            ("d1", "m1", bytearray(b"\x01\x02" * 400), "png", 800, 100),
            ("d2", "m2", bytearray(b"\xff" * 64), "png", 40, 40),
        ],
        schema=MM.MEDIA_SCHEMA,
    )
    return df


def test_injected_feature_decoder(media):
    # closures pickle by value (cloudpickle), so workers need no test module
    def fake_features(b: bytes) -> dict:
        return {
            "n_bytes": len(b),
            "byte_mean": -1.0,  # sentinel proving the injected path ran
            "phash": f"fake{len(b)}",
        }

    rows = {
        r["media_ref"]: r
        for r in MM.extract_features(media, decoder=fake_features).collect()
    }
    assert rows["m1"]["phash"] == "fake800"
    assert rows["m1"]["byte_mean"] == -1.0
    assert rows["m2"]["n_bytes"] == 64


def test_injected_resampler(media):
    def fake_resampler(b: bytes, out_w: int, out_h: int) -> bytes:
        return bytes([out_w % 256, out_h % 256])

    rows = {
        r["media_ref"]: r
        for r in MM.resize_media(
            media, max_dim=256, resampler=fake_resampler
        ).collect()
    }
    # 800x100 → 256x32; injected resampler rewrote the content bytes
    assert (rows["m1"]["out_width"], rows["m1"]["out_height"]) == (256, 32)
    assert bytes(rows["m1"]["content"]) == bytes([0, 32])
    # 40x40 fits: dimensions unchanged, but the injected backend still runs
    assert bytes(rows["m2"]["content"]) == bytes([40, 40])


def test_injected_frame_decoder(media):
    def fake_frame_decoder(b: bytes, max_frames: int) -> list:
        return [b[:8], b[8:16]][:max_frames]

    rows = MM.frame_sample(
        media, frame_decoder=fake_frame_decoder, max_frames=2
    ).collect()
    by_key = {(r["media_ref"], r["frame_idx"]): r for r in rows}
    assert len(rows) == 4
    assert by_key[("m2", 0)]["frame_sig"] == "ff" * 8
    assert bytes(by_key[("m1", 1)]["frame_bytes"]) == b"\x01\x02" * 4


def test_injected_langid_model(spark):
    df = spark.createDataFrame(
        [("a", "hello world"), ("b", "")], "doc_id string, text string"
    )

    def fake_model(text: str) -> dict:
        if not text:
            return {"__label__unknown": 1.0}
        return {"__label__xx": 0.9, "__label__yy": 0.1}

    rows = {
        r["doc_id"]: r
        for r in with_trigram_langid(df, model=fake_model).collect()
    }
    assert rows["a"]["top_lang"] == "__label__xx"
    assert rows["a"]["languages"] == {"__label__xx": 0.9, "__label__yy": 0.1}
    assert rows["b"]["top_lang"] == "__label__unknown"


def test_injected_langid_model_empty_map(spark):
    """A model that returns no language gives the row back with an empty
    map and no top pick instead of failing the task."""
    df = spark.createDataFrame(
        [("a", "hello world")], "doc_id string, text string"
    )
    [row] = with_trigram_langid(df, model=lambda text: {}).collect()
    assert row["languages"] == {}
    assert row["languages_topk"] == ""
    assert row["top_lang"] is None and row["top_lang_score"] is None


def test_injected_perplexity_scorer(spark):
    df = spark.createDataFrame(
        [("a", "some text", "en"), ("b", "mehr text", "de")],
        "doc_id string, text string, lang string",
    )

    def fake_scorer(text: str, lang: str) -> float:
        return float(len(text)) if lang == "en" else 0.5

    rows = {
        r["doc_id"]: r["perplexity"]
        for r in with_perplexity(df, scorer=fake_scorer).collect()
    }
    assert rows["a"] == 9.0
    assert rows["b"] == 0.5
