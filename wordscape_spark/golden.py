"""Golden-oracle materialization for non-SQL-expressible operators.

The driver's correctness gate compares every Spark query against DuckDB SQL.
The span classifier, the Arrow-UDF model operators (perplexity, trigram
language ID, media features, maldoc) and the LSH ANN are not SQL-expressible
— their single-node oracles are pure-Python functions.  This module runs
those oracles over the deterministic inputs *without Spark* (pyarrow in,
pyarrow out) and writes the results as parquet, so ``oracle_sql()`` can pin
them with plain ``SELECT ... FROM read_parquet('<golden>')`` statements and
the driver records a real rows+schema+hash comparison instead of a weaker
rows-only check.

The golden directory is keyed by a content hash of every module the oracle
depends on, so editing the classifier (or datagen) auto-invalidates stale
goldens instead of silently comparing against old semantics.
"""

from __future__ import annotations

import hashlib
import os
import pathlib
import shutil
import tempfile
from decimal import ROUND_HALF_UP, Decimal

import pyarrow as pa
import pyarrow.parquet as pq

from wordscape_spark import datagen
from wordscape_spark.config import DEFAULT_CONFIG

GOLDEN_BASE = datagen.DATA_DIR / "golden"

# every module whose semantics the goldens embody — content-hashed into the
# golden dir name (auto-invalidation)
_DEP_MODULES = (
    "core/classify.py",
    "signal.py",
    "taxonomy.py",
    "config.py",
    "datagen.py",
    "operators/perplexity.py",
    "operators/langid_trigram.py",
    "models.py",
    "resources/tiny.arpa",
    "operators/similarity.py",
    "operators/maldoc.py",
    "operators/multimodal.py",
    "golden.py",
)


def _dep_hash() -> str:
    root = pathlib.Path(__file__).resolve().parent
    h = hashlib.sha256()
    for rel in _DEP_MODULES:
        h.update((root / rel).read_bytes())
    return h.hexdigest()[:12]


def _golden_dir_segment() -> str:
    return f"v{datagen.DATAGEN_VERSION}-{_dep_hash()}"


def round_half_up(x: float, ndigits: int) -> float:
    """Spark/DuckDB ``round()`` semantics (half away from zero) — Python's
    built-in round() is banker's rounding and disagrees on exact halves."""
    q = Decimal(1).scaleb(-ndigits)
    return float(Decimal(x).quantize(q, rounding=ROUND_HALF_UP))


# ---------------------------------------------------------------------------
# per-table generators (pure Python; no Spark)
# ---------------------------------------------------------------------------


def _gen_extract_tables(sf: float, out: pathlib.Path) -> None:
    """classify_document over every interleaved doc → spans / meta / counts /
    pages / page_counts / rejects golden tables.  Doc and page records carry
    trigram language ID over the extracted/page text (the reference predicts
    languages per document and per page, annotator_process.py:545-560)."""
    from wordscape_spark.core import classify as C
    from wordscape_spark.operators.langid_trigram import classify_text

    docs = pq.read_table(datagen.ensure_interleaved(sf)).to_pylist()

    span_rows, meta_rows, count_rows = [], [], []
    page_rows, page_count_rows, reject_rows = [], [], []
    for row in docs:
        doc_id = row["doc_id"]
        spans = [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in row["spans"]
        ]
        res = C.classify_document(spans, DEFAULT_CONFIG)
        if not res.ok:
            reject_rows.append(
                {"doc_id": doc_id, "reject_reason": res.reject_reason}
            )
            continue
        metrics = C.text_metrics(res.text)
        doc_langs = classify_text(res.text)
        doc_top_lang, doc_top_score = next(iter(doc_langs.items()))
        for (kind, text, media_ref, off), page in zip(
            res.spans, res.span_pages
        ):
            span_rows.append(
                {
                    "doc_id": doc_id,
                    "offset": off,
                    "kind": kind,
                    "text": text,
                    "media_ref": media_ref,
                    "page": page,
                }
            )
        meta_rows.append(
            {
                "doc_id": doc_id,
                "text": res.text,
                "quality": res.quality,
                "num_words": int(metrics["num_words"]),
                "num_chars": int(metrics["num_chars"]),
                "core_created": res.props.get("core_created"),
                "core_modified": res.props.get("core_modified"),
                "core_title": res.props.get("core_title"),
                "lang_tags": res.lang_tags,
                "n_pages": len(res.pages),
                "top_lang": doc_top_lang,
                "top_lang_score": doc_top_score,
            }
        )
        for kind, n in res.counts.items():
            count_rows.append({"doc_id": doc_id, "kind": kind, "n": n})
        for page, text, counts in res.pages:
            pl = classify_text(text)
            p_lang, p_score = next(iter(pl.items()))
            page_rows.append(
                {
                    "doc_id": doc_id,
                    "page": page,
                    "page_text": text,
                    "top_lang": p_lang,
                    "top_lang_score": p_score,
                }
            )
            for kind, n in counts.items():
                page_count_rows.append(
                    {"doc_id": doc_id, "page": page, "kind": kind, "n": n}
                )

    pq.write_table(pa.Table.from_pylist(span_rows), out / "spans.parquet")
    pq.write_table(pa.Table.from_pylist(meta_rows), out / "doc_meta.parquet")
    pq.write_table(pa.Table.from_pylist(count_rows), out / "counts.parquet")
    pq.write_table(pa.Table.from_pylist(page_rows), out / "pages.parquet")
    pq.write_table(
        pa.Table.from_pylist(page_count_rows), out / "page_counts.parquet"
    )
    pq.write_table(
        pa.Table.from_pylist(
            reject_rows,
            schema=pa.schema(
                [("doc_id", pa.string()), ("reject_reason", pa.string())]
            ),
        ),
        out / "rejects.parquet",
    )


def _gen_model_tables(sf_dir: str, out: pathlib.Path) -> None:
    """Per-document model scores over the documents table: perplexity (E3)
    and trigram language ID (E1) — same pure-Python model functions the
    Arrow UDFs apply per batch."""
    from wordscape_spark.operators.langid_trigram import (
        classify_text,
        serialize_topk,
    )
    from wordscape_spark.operators.perplexity import score_text

    docs = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "text", "lang"]
    ).to_pylist()
    ppl_rows, lid_rows = [], []
    for row in docs:
        text = row["text"] or ""
        ppl_rows.append(
            {
                "doc_id": row["doc_id"],
                "perplexity": score_text(text, row["lang"]),
            }
        )
        langs = classify_text(text)
        top_lang, top_score = next(iter(langs.items()))
        lid_rows.append(
            {
                "doc_id": row["doc_id"],
                "top_lang": top_lang,
                "top_lang_score": top_score,
                "languages_topk": serialize_topk(langs),
            }
        )
    pq.write_table(pa.Table.from_pylist(ppl_rows), out / "perplexity.parquet")
    pq.write_table(pa.Table.from_pylist(lid_rows), out / "langid3.parquet")

    # file-backed ARPA scorer (models.py): distributed == single-node pin
    # for the per-executor artifact loader; the ARPA math itself is pinned
    # against hand-computed literals in tests/test_models.py
    from wordscape_spark.models import TINY_ARPA_PATH, _arpa_model

    arpa = _arpa_model(TINY_ARPA_PATH)
    arpa_rows = [
        {
            "doc_id": row["doc_id"],
            "ppl_ppm": int(
                round(
                    (arpa.perplexity(row["text"] or "")
                     if row["lang"] == "en" else 0.0) * 1_000_000
                )
            ),
        }
        for row in docs
    ]
    pq.write_table(pa.Table.from_pylist(arpa_rows), out / "arpa_ppl.parquet")


def _pseudo_media(doc_id: str, media_ref: str) -> tuple[bytes, int]:
    """The deterministic pseudo-payload rule of multimodal.media_table:
    md5-stream bytes seeded by (doc_id, media_ref), length 64 + hash16 %
    4096."""
    seed = f"{doc_id}/{media_ref}"
    hexd = hashlib.md5(seed.encode()).hexdigest()
    n = 64 + (int(hexd[:4], 16) % 4096)
    digest = hashlib.md5(seed.encode()).digest()
    return (digest * (n // 16 + 1))[:n], n


def _gen_media_tables(sf: float, out: pathlib.Path) -> None:
    """Media features (byte stats + phash) and maldoc verdicts over the
    figure spans of the interleaved table."""
    from wordscape_spark.operators.maldoc import _INDICATORS

    docs = pq.read_table(
        datagen.ensure_interleaved(sf), columns=["doc_id", "spans"]
    ).to_pylist()
    feat_rows, mal_rows = [], []
    for row in docs:
        for s in row["spans"]:
            ref = s["media_ref"]
            if ref is None:
                continue
            b, n = _pseudo_media(row["doc_id"], ref)
            feat_rows.append(
                {
                    "doc_id": row["doc_id"],
                    "media_ref": ref,
                    "n_bytes": n,
                    "byte_mean": round(sum(b) / len(b), 6) if b else 0.0,
                    "phash": hashlib.md5(b).hexdigest()[:16],
                }
            )
            inds = {f"ind_{k}": pat in b for k, pat in _INDICATORS.items()}
            mal_rows.append(
                {
                    "doc_id": row["doc_id"],
                    "media_ref": ref,
                    **{k: inds[k] for k in sorted(inds)},
                    "malicious": any(inds.values()),
                }
            )
    pq.write_table(
        pa.Table.from_pylist(feat_rows), out / "media_features.parquet"
    )
    pq.write_table(pa.Table.from_pylist(mal_rows), out / "maldoc.parquet")


def _plane_component(plane: int, dim: int) -> float:
    """Bit-identical twin of the plane component in
    similarity.with_lsh_signature (md5-derived pseudo-gaussian)."""
    h = hashlib.md5(f"{plane}:{dim}".encode()).hexdigest()[:8]
    return int(h, 16) / 2147483648.0 - 1.0


def _left_fold_dot(a: list[float], b: list[float]) -> float:
    """Sequential left-fold sum, matching Spark's aggregate() operation
    order so doubles are bit-identical."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def _gen_ann_lsh(sf_dir: str, out: pathlib.Path) -> None:
    """Pure-Python twin of similarity.lsh_topk over the embeddings table:
    md5-seeded hyperplanes → sign-bit bands → shared-band candidates →
    exact cosine re-rank, top-5 per query (vec_id % 97 = 0 queries)."""
    from wordscape_spark.operators.similarity import N_BANDS, N_PLANES

    rows = pq.read_table(
        f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"]
    ).to_pylist()
    ids = [r["vec_id"] for r in rows]
    vecs = [[float(x) for x in r["embedding"]] for r in rows]
    dim = len(vecs[0]) if vecs else 0
    planes = [
        [_plane_component(p, d) for d in range(dim)] for p in range(N_PLANES)
    ]
    band_rows = N_PLANES // N_BANDS

    def signature(v: list[float]) -> list[int]:
        return [1 if _left_fold_dot(v, pl) >= 0.0 else 0 for pl in planes]

    def bands(sig: list[int]) -> list[str]:
        return [
            ",".join(
                str(x) for x in sig[b * band_rows:(b + 1) * band_rows]
            )
            for b in range(N_BANDS)
        ]

    sigs = [bands(signature(v)) for v in vecs]
    buckets: dict[tuple[int, str], list[int]] = {}
    for i, bks in enumerate(sigs):
        for b, key in enumerate(bks):
            buckets.setdefault((b, key), []).append(i)

    def norm(v: list[float]) -> float:
        acc = 0.0
        for x in v:
            acc += x * x
        return acc ** 0.5

    norms = [norm(v) for v in vecs]

    out_rows = []
    for qi, qid in enumerate(ids):
        if qid % 97 != 0:
            continue
        cand: set[int] = set()
        for b, key in enumerate(sigs[qi]):
            cand.update(buckets.get((b, key), ()))
        cand.discard(qi)
        scored = []
        for ci in cand:
            na, nb = norms[qi], norms[ci]
            if na == 0.0 or nb == 0.0:
                cos = 0.0
            else:
                cos = round_half_up(
                    _left_fold_dot(vecs[qi], vecs[ci]) / (na * nb), 4
                )
            scored.append((cos, ids[ci]))
        scored.sort(key=lambda t: (-t[0], t[1]))
        for rank, (cos, nid) in enumerate(scored[:5], start=1):
            out_rows.append(
                {
                    "query_id": qid,
                    "neighbor_id": nid,
                    "cos": cos,
                    "rank": rank,
                }
            )
    pq.write_table(pa.Table.from_pylist(out_rows), out / "ann_lsh.parquet")


def _gen_ann_ivf(sf_dir: str, out: pathlib.Path) -> None:
    """Pure-Python twin of similarity.ivf_topk: shares only the centroid
    *trainer* (a driver-side model parameter, like the md5 hyperplanes);
    assignment, probing and re-ranking are re-derived here independently."""
    from wordscape_spark.operators.similarity import (
        IVF_NPROBE,
        IVF_SAMPLE,
        sample_order_key,
        train_ivf_centroids,
    )

    rows = pq.read_table(
        f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"]
    ).to_pylist()
    ids = [r["vec_id"] for r in rows]
    vecs = [[float(x) for x in r["embedding"]] for r in rows]
    # mirror sample_for_training: md5-hash order, id tiebreak
    sample = [
        v
        for _, v in sorted(
            zip(ids, vecs), key=lambda t: (sample_order_key(t[0]), t[0])
        )
    ][:IVF_SAMPLE]
    cents = train_ivf_centroids(sample)

    def cell_scores(v: list[float]) -> list[float]:
        return [_left_fold_dot(c, v) for c in cents]

    def argmax_first(scores: list[float]) -> int:
        best, best_s = 0, scores[0]
        for i, s in enumerate(scores[1:], start=1):
            if s > best_s:
                best, best_s = i, s
        return best + 1  # 1-based, ties → lowest index

    cells: dict[int, list[int]] = {}
    for i, v in enumerate(vecs):
        cells.setdefault(argmax_first(cell_scores(v)), []).append(i)

    def norm(v: list[float]) -> float:
        acc = 0.0
        for x in v:
            acc += x * x
        return acc ** 0.5

    norms = [norm(v) for v in vecs]
    out_rows = []
    for qi, qid in enumerate(ids):
        if qid % 97 != 0:
            continue
        scores = cell_scores(vecs[qi])
        probe = sorted(
            range(1, len(cents) + 1), key=lambda c: (-scores[c - 1], c)
        )[:IVF_NPROBE]
        cand: set[int] = set()
        for c in probe:
            cand.update(cells.get(c, ()))
        cand.discard(qi)
        scored = []
        for ci in cand:
            na, nb = norms[qi], norms[ci]
            if na == 0.0 or nb == 0.0:
                cos = 0.0
            else:
                cos = round_half_up(
                    _left_fold_dot(vecs[qi], vecs[ci]) / (na * nb), 4
                )
            scored.append((cos, ids[ci]))
        scored.sort(key=lambda t: (-t[0], t[1]))
        for rank, (cos, nid) in enumerate(scored[:5], start=1):
            out_rows.append(
                {
                    "query_id": qid,
                    "neighbor_id": nid,
                    "cos": cos,
                    "rank": rank,
                }
            )
    pq.write_table(pa.Table.from_pylist(out_rows), out / "ann_ivf.parquet")


# ---------------------------------------------------------------------------
# public API
# ---------------------------------------------------------------------------


def ensure_golden(sf_dir: str) -> str:
    """Idempotently materialize every golden table for a testdata sf dir.

    Returns the golden directory path.  Atomic (tmp dir + rename); keyed by
    (datagen version, dependency-content hash, sf) so stale goldens are
    never read after a semantic change.
    """
    sf = datagen.sf_from_dir(sf_dir)
    out_dir = GOLDEN_BASE / _golden_dir_segment() / f"sf{sf:g}"
    marker = out_dir / "_DONE"
    if marker.exists():
        return str(out_dir)
    datagen.make_data_dir(out_dir.parent)
    tmp = pathlib.Path(
        tempfile.mkdtemp(dir=out_dir.parent, prefix=f"sf{sf:g}.tmp")
    )
    try:
        _gen_extract_tables(sf, tmp)
        _gen_model_tables(sf_dir, tmp)
        _gen_media_tables(sf, tmp)
        _gen_ann_lsh(sf_dir, tmp)
        _gen_ann_ivf(sf_dir, tmp)
        (tmp / "_DONE").touch()
        if not marker.exists():
            try:
                os.replace(tmp, out_dir)
            except OSError:
                pass  # concurrent creator won the rename
    finally:
        if tmp.exists() and tmp != out_dir:
            shutil.rmtree(tmp, ignore_errors=True)
    return str(out_dir)
