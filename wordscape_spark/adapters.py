"""Import-guarded adapters that put REAL production models behind the
existing injection seams.

The sandbox ships neither ``fasttext`` nor ``kenlm``, so the engine's
language-ID and perplexity operators run on deterministic in-repo
surrogates by default — but the seams (`with_trigram_langid(model=…)`,
`with_perplexity(scorer=…)`) were designed for the real artifacts a
production user has:

* fastText ``lid.176.ftz`` — the reference loads it once per worker and
  calls ``model.predict(text, k)`` (reference:
  app/src/annotation/language_detection/inference.py:8-59);
* a KenLM ``.arpa``/``.bin`` n-gram model — the reference scores
  language-matched documents with ``kenlm.Model`` and the
  ``10^(−Σ log10 p / N)`` perplexity formula (reference:
  app/src/quality/perplexity.py:13-55);
* Pillow image decode — the reference decodes page/embedded images with
  PIL behind a decompression-bomb gate
  (app/src/annotation/utils/zip_bomb.py:63-131); here it backs the
  multimodal seams ``extract_features(decoder=…)`` /
  ``resize_media(resampler=…)``.

Both adapters return ``functools.partial`` over MODULE-LEVEL functions, so
they pickle by reference (no model object ever crosses the driver→executor
boundary); each executor process imports the backend and loads the model
file exactly once per path (the reference's module-level lazy singleton
pattern).  The backend import happens lazily INSIDE the loader, so merely
importing this module — or shipping the partial — never requires the
dependency; only actually scoring a batch does.

Usage on a real cluster::

    from wordscape_spark.adapters import fasttext_classifier, kenlm_scorer
    df = with_trigram_langid(df, model=fasttext_classifier("/models/lid.176.ftz"))
    df = with_perplexity(df, scorer=kenlm_scorer("/models/en.arpa.bin"))

Ship the model files with ``spark-submit --files`` (or a cluster-visible
path) and the package with ``--py-files``.
"""

from __future__ import annotations

import functools

_FASTTEXT_CACHE: dict[str, object] = {}
_KENLM_CACHE: dict[str, object] = {}
_SP_CACHE: dict[str, object] = {}


# ---------------------------------------------------------------------------
# fastText language ID (lid.176.ftz)
# ---------------------------------------------------------------------------


def _load_fasttext(path: str):
    model = _FASTTEXT_CACHE.get(path)
    if model is None:
        try:
            import fasttext
        except ImportError as e:  # pragma: no cover - exercised via stub
            raise ImportError(
                "fasttext is required for fasttext_classifier — "
                "`pip install fasttext-wheel` and download lid.176.ftz "
                "(https://fasttext.cc/docs/en/language-identification.html); "
                "without it the engine's default trigram model still works"
            ) from e
        model = fasttext.load_model(path)
        _FASTTEXT_CACHE[path] = model
    return model


def _fasttext_classify(text: str, path: str, top_k: int) -> dict[str, float]:
    """fastText predict → the seam's ``{__label__xx: conf}`` contract:
    entries sorted by (-conf, label), confidences rounded to 6dp (the same
    canonicalization the in-repo trigram model applies, so downstream
    ``serialize_topk`` maps are comparable across backends).  Newlines are
    stripped first — fastText predict rejects multi-line input (the
    reference does the same, inference.py:38)."""
    model = _load_fasttext(path)
    clean = (text or "").replace("\n", " ").strip()
    if not clean:
        return {"__label__unknown": 1.0}
    labels, probs = model.predict(clean, k=top_k)
    confs = {
        str(label): round(min(float(p), 1.0), 6)
        for label, p in zip(labels, probs)
    }
    return dict(sorted(confs.items(), key=lambda kv: (-kv[1], kv[0])))


def fasttext_classifier(path: str, top_k: int | None = None):
    """A picklable classifier for ``with_trigram_langid(model=…)`` backed
    by a real fastText ``lid.176.ftz`` lazy-loaded once per executor."""
    if top_k is None:
        from wordscape_spark.config import DEFAULT_CONFIG

        top_k = DEFAULT_CONFIG.top_k_languages
    return functools.partial(_fasttext_classify, path=path, top_k=top_k)


# ---------------------------------------------------------------------------
# KenLM perplexity (.arpa / .bin)
# ---------------------------------------------------------------------------


def _load_kenlm(path: str):
    model = _KENLM_CACHE.get(path)
    if model is None:
        try:
            import kenlm
        except ImportError as e:  # pragma: no cover - exercised via stub
            raise ImportError(
                "kenlm is required for kenlm_scorer — `pip install kenlm`; "
                "without it the engine's default bigram surrogate (or the "
                "pure-Python ArpaModel reader in models.py) still works"
            ) from e
        model = kenlm.Model(path)
        _KENLM_CACHE[path] = model
    return model


def _load_sentencepiece(path: str):
    sp = _SP_CACHE.get(path)
    if sp is None:
        try:
            import sentencepiece
        except ImportError as e:  # pragma: no cover - exercised via stub
            raise ImportError(
                "sentencepiece is required when kenlm_scorer is given an "
                "sp_model — `pip install sentencepiece`; KenLM models "
                "trained on SentencePiece pieces (the reference's, "
                "perplexity.py:26-38) mis-score raw text"
            ) from e
        sp = sentencepiece.SentencePieceProcessor()
        sp.load(path)
        _SP_CACHE[path] = sp
    return sp


def _kenlm_score(
    text: str,
    lang: str,
    path: str,
    match_lang: str,
    sp_path: str | None = None,
) -> float:
    """(text, lang) → perplexity, scored only for the model's language —
    the reference applies each model to matching-language docs only
    (pp_compute_perplexity.py:27-43).  When ``sp_path`` is given, the text
    is SentencePiece-tokenized first (pieces joined by spaces), matching
    the reference's tokenize-then-score pipeline (perplexity.py:26-38) —
    a KenLM model trained on pieces must never see raw text.
    ``kenlm.Model.perplexity`` computes the reference formula
    ``10^(−Σ log10 p / N)`` natively."""
    if lang != match_lang:
        return 0.0
    if not text:
        return 0.0
    if sp_path:
        text = " ".join(_load_sentencepiece(sp_path).encode_as_pieces(text))
    return round(float(_load_kenlm(path).perplexity(text)), 6)


def kenlm_scorer(
    path: str, match_lang: str = "en", sp_model: str | None = None
):
    """A picklable scorer for ``with_perplexity(scorer=…)`` backed by a
    real KenLM model lazy-loaded once per executor; pass ``sp_model`` (a
    SentencePiece .model path) when the LM was trained on pieces — the
    reference always does (quality/perplexity.py:26-38)."""
    return functools.partial(
        _kenlm_score, path=path, match_lang=match_lang, sp_path=sp_model
    )


# ---------------------------------------------------------------------------
# oletools OleID maldoc indicators
# ---------------------------------------------------------------------------

# the reference's fatal indicator set — OleID indicators above INFO risk
# that reject a document (reference: app/src/data_sources/maldoc_check.py:13-29)
OLEID_FATAL = (
    "appname",
    "codepage",
    "encrypted",
    "ext_rels",
    "ObjectPool",
    "vba",
    "xlm",
    "flash",
)
_OLEID_SAFE_RISKS = frozenset({"", "none", "info"})


def _oleid_check(content: bytes, names: tuple) -> dict:
    """Real OleID scan → ``{indicator_id: raised}`` over ``names``.

    An indicator counts as raised when OleID reports it truthy at a risk
    above INFO (the reference's threshold).  Containers OleID cannot parse
    at all fail CLOSED — every indicator raised — because an unparseable
    OLE stream is exactly what a malicious-document gate must not wave
    through."""
    try:
        from oletools import oleid
    except ImportError as e:  # pragma: no cover - exercised via stub
        raise ImportError(
            "oletools is required for oleid_indicators — `pip install "
            "oletools`; without it maldoc_check's deterministic "
            "byte-pattern surrogate still works"
        ) from e
    import io

    flags = {n: False for n in names}
    try:
        oid = oleid.OleID(io.BytesIO(bytes(content)))
        for ind in oid.check():
            if ind.id in flags:
                risk = str(getattr(ind, "risk", "")).lower()
                flags[ind.id] = bool(ind.value) and risk not in _OLEID_SAFE_RISKS
    except Exception:
        return {n: True for n in names}
    return flags


def oleid_indicators(names: tuple = OLEID_FATAL):
    """A picklable indicator backend for
    ``maldoc_check(indicators=…, indicator_names=list(names))`` backed by
    real oletools OleID (lazy-imported per executor)."""
    return functools.partial(_oleid_check, names=tuple(names))


# ---------------------------------------------------------------------------
# PIL image decode: features + resize, with a decompression-bomb gate
# ---------------------------------------------------------------------------

# PIL's own MAX_IMAGE_PIXELS default (≈89.5 MPx × 2) — the same class of
# pixel-count gate the reference applies per image before touching pixels
# (reference: app/src/annotation/utils/zip_bomb.py:63-131)
PIL_MAX_PIXELS = 178_956_970


def _load_pil():
    try:
        from PIL import Image
    except ImportError as e:  # pragma: no cover - exercised via stub
        raise ImportError(
            "Pillow is required for pil_feature_decoder / pil_resampler — "
            "`pip install Pillow`; without it the engine's deterministic "
            "byte-level surrogates still work"
        ) from e
    return Image


def _pil_features(content: bytes, max_pixels: int) -> dict:
    """Real decode → the FEATURE_SCHEMA contract {n_bytes, byte_mean,
    phash}: byte_mean becomes the mean GRAYSCALE PIXEL value, phash a
    64-bit average-hash (8×8 downsample, mean threshold) hex string.

    Per-image fail-CLOSED markers, never task failures (the seam runs
    inside a map_rows batch loop): a decompression bomb — pixel count
    over ``max_pixels``, checked on the HEADER before any pixel decode,
    the reference's zip_bomb.py:63-131 gate — yields phash 'bomb'; an
    undecodable payload yields phash 'decode_error'; both with
    byte_mean = -1.0 so downstream filters drop them by predicate."""
    import io

    image_mod = _load_pil()
    n = len(content)
    try:
        im = image_mod.open(io.BytesIO(content))
        w, h = im.size
        if w * h > max_pixels:
            return {"n_bytes": n, "byte_mean": -1.0, "phash": "bomb"}
        gray = im.convert("L")
        pixels = list(gray.getdata())
        small = list(gray.resize((8, 8)).getdata())
        mean = sum(small) / 64.0
        bits = 0
        for px in small:
            bits = (bits << 1) | (1 if px >= mean else 0)
        return {
            "n_bytes": n,
            "byte_mean": (
                round(sum(pixels) / len(pixels), 6) if pixels else 0.0
            ),
            "phash": f"{bits:016x}",
        }
    except Exception:
        return {"n_bytes": n, "byte_mean": -1.0, "phash": "decode_error"}


def pil_feature_decoder(max_pixels: int = PIL_MAX_PIXELS):
    """A picklable decoder for ``extract_features(decoder=…)`` backed by
    real PIL decode (lazy-imported per executor) with the decompression-
    bomb gate applied before pixel access."""
    return functools.partial(_pil_features, max_pixels=max_pixels)


def _pil_resample(
    content: bytes, out_w: int, out_h: int, fmt: str, max_pixels: int
) -> bytes:
    """Real pixel resample for ``resize_media(resampler=…)``.  Fail-closed
    pass-through on bomb/undecodable input — byte-identical to the
    operator's no-resampler default, so a poisoned image degrades to the
    metadata-only path instead of failing the task."""
    import io

    image_mod = _load_pil()
    try:
        im = image_mod.open(io.BytesIO(content))
        w, h = im.size
        if w * h > max_pixels:
            return bytes(content)
        buf = io.BytesIO()
        im.resize((max(1, int(out_w)), max(1, int(out_h)))).save(
            buf, format=fmt
        )
        return buf.getvalue()
    except Exception:
        return bytes(content)


def pil_resampler(fmt: str = "PNG", max_pixels: int = PIL_MAX_PIXELS):
    """A picklable resampler for ``resize_media(resampler=…)`` backed by
    real PIL ``Image.resize`` (lazy-imported per executor)."""
    return functools.partial(_pil_resample, fmt=fmt, max_pixels=max_pixels)
