"""Deterministic synthetic interleaved-document generator.

Produces the engine's input table ``(doc_id, spans[])`` (shape per
BASELINE.json ``input_hint``) at a scale factor, exercising every
classification path: builtin styles, font heuristics, heading strictness,
content-aware form/quote/list, tables with header rows, figures, header/
footer/textbox streams, sdt toc/bibliography, math & numbered paragraphs,
whitespace/empty paragraphs, sub-min-text rejects, and skewed mega-docs.

Everything is seeded — same sf ⇒ byte-identical rows, any round, any machine.
Written with pyarrow directly (no Spark session needed at generation time).
"""

from __future__ import annotations

import io
import os
import pathlib
import random
import re
import tempfile
import zipfile
from typing import Callable, Iterable

import pyarrow as pa
import pyarrow.parquet as pq

from wordscape_spark import signal as sig

# generated inputs and goldens live in the data/ dir beside the package
DATA_DIR = pathlib.Path(__file__).resolve().parents[1] / "data"
BASE_DIR = DATA_DIR / "interleaved"
# bump when the generator's output changes: the interleaved table is cached
# on disk per (version, sf), and goldens/oracles key off the same version
# v4: maintained n_spans column (the Iceberg-metadata analog the extract
# small/big split prunes on — parquet row-group min/max stats)
DATAGEN_VERSION = 4

# synthetic language vocabularies (stopword-bearing so language ID has signal)
VOCAB = {
    "en": ("the of and to in is was for on that with as by at from this have "
           "be are were which their said has its they not but had").split(),
    "de": ("der die und das ist von den mit für nicht auf dem des ein eine "
           "im als auch sich nach bei aus wird sind oder wie").split(),
    "fr": ("le la les des une est dans pour que qui sur avec pas plus par "
           "sont mais comme tout nous vous ont cette aux").split(),
}
CONTENT_WORDS = ("report system value data model table market energy result "
                 "section analysis figure period growth total annual policy "
                 "research project development management information").split()

STYLE_BODY = ["normal", "body text", "plain text", "no spacing"]
STYLE_UNRECOGNIZED = ["subtitle", "macro", "index 1", "signature"]
STYLE_CUSTOM = ["mystyle", "corporate body", "fancy title", "brand heading"]

BULLETS = ["-", "•", "➢", "◦", "▪"]


def n_docs_for_sf(sf: float) -> int:
    return max(50, int(round(sf * 200_000)))


def _sentence(rng: random.Random, lang: str, n_words: int) -> str:
    words = []
    vocab = VOCAB[lang]
    for _ in range(n_words):
        if rng.random() < 0.55:
            words.append(rng.choice(vocab))
        else:
            words.append(rng.choice(CONTENT_WORDS))
    if rng.random() < 0.2:
        words.append(str(rng.randint(0, 9999)))
    return " ".join(words)


class _Doc:
    def __init__(self, doc_id: str):
        self.doc_id = doc_id
        self.spans: list[tuple[str, str, str | None]] = []
        self.par = 0
        self.tbl = 0
        self.hp = 0
        self.fp = 0
        self.xp = 0

    def add(self, kind: str, text: str, media_ref: str | None = None) -> None:
        self.spans.append((kind, text, media_ref))

    def body_par(
        self, texts, style="normal",
        par_size=11.0, par_bold=None, par_italic=None,
        run_props=None, math=False, numbered=False,
    ) -> None:
        if isinstance(texts, str):
            texts = [texts]
        run_props = run_props or [{} for _ in texts]
        p = self.par
        self.par += 1
        for text, props in zip(texts, run_props):
            self.add(
                sig.encode_run(
                    par=p, style=style, par_size=par_size,
                    par_bold=par_bold, par_italic=par_italic,
                    size=props.get("size", sig.FONT_UNKNOWN),
                    bold=props.get("bold"), italic=props.get("italic"),
                    underline=props.get("underline", False),
                    math=math, numbered=numbered,
                ),
                text,
            )

    def rows(self):
        return [
            {"kind": k, "text": t, "media_ref": m, "offset": i}
            for i, (k, t, m) in enumerate(self.spans)
        ]


def _gen_builtin_doc(doc: _Doc, rng: random.Random, lang: str) -> None:
    doc.body_par(_sentence(rng, lang, 6), style="title", par_size=26.0)
    for _ in range(rng.randint(3, 8)):
        level = rng.randint(1, 3)
        doc.body_par(
            _sentence(rng, lang, 4), style=f"heading {level}",
            par_size=18.0 - 2 * level, par_bold=True,
        )
        for _ in range(rng.randint(1, 3)):
            doc.body_par(_sentence(rng, lang, rng.randint(15, 40)),
                         style=rng.choice(STYLE_BODY))
    if rng.random() < 0.5:
        doc.body_par(f'"{_sentence(rng, lang, 10)}"', style="quote")
    if rng.random() < 0.5:
        doc.body_par(_sentence(rng, lang, 8), style="caption")
    if rng.random() < 0.4:
        doc.body_par(_sentence(rng, lang, 12), style=rng.choice(STYLE_UNRECOGNIZED))
    if rng.random() < 0.4:
        doc.body_par("", style="toc 1")  # empty toc par (skip-path coverage)
    if rng.random() < 0.3:
        doc.body_par(_sentence(rng, lang, 7), style="toc 2")
    if rng.random() < 0.3:
        doc.body_par(_sentence(rng, lang, 9), style="footnote text")
    if rng.random() < 0.2:
        doc.body_par(_sentence(rng, lang, 9), style="annotation text")
    if rng.random() < 0.2:
        level = rng.randint(4, 9)
        doc.body_par(_sentence(rng, lang, 4), style=f"heading {level}",
                     par_size=11.5, par_bold=True)
    if rng.random() < 0.3:
        doc.body_par(_sentence(rng, lang, 10), style="normal", math=True)
    if rng.random() < 0.3:
        doc.body_par(_sentence(rng, lang, 8), style="normal", numbered=True)
    if rng.random() < 0.3:
        doc.body_par("   ", style="normal")  # pure-whitespace paragraph


def _gen_heuristic_doc(doc: _Doc, rng: random.Random, lang: str) -> None:
    body_sz = rng.choice([10.0, 11.0, 12.0])
    title_sz = body_sz + 14.0
    h1_sz, h2_sz = body_sz + 7.0, body_sz + 4.0
    style = rng.choice(STYLE_CUSTOM)

    doc.body_par(_sentence(rng, lang, 5), style=style, par_size=title_sz)
    for _ in range(rng.randint(2, 6)):
        doc.body_par(_sentence(rng, lang, 4), style=style,
                     par_size=h1_sz, par_bold=True)
        doc.body_par(_sentence(rng, lang, rng.randint(20, 50)),
                     style=style, par_size=body_sz)
        if rng.random() < 0.5:
            doc.body_par(_sentence(rng, lang, 4), style=style,
                         par_size=h2_sz, par_italic=True)
            doc.body_par(_sentence(rng, lang, rng.randint(15, 35)),
                         style=style, par_size=body_sz)
    # heading run inside a body paragraph (run-level override)
    if rng.random() < 0.6:
        doc.body_par(
            [_sentence(rng, lang, 3), " ", _sentence(rng, lang, 25)],
            style=style, par_size=body_sz,
            run_props=[{"size": h1_sz, "bold": True}, {}, {"size": body_sz}],
        )
    # over-long heading demoted to body (max_heading_len path)
    if rng.random() < 0.3:
        doc.body_par(
            _sentence(rng, lang, 40)[:200], style=style, par_size=h1_sz,
            par_bold=True,
        )
    # unknown-size run falling back to paragraph props
    if rng.random() < 0.4:
        doc.body_par(
            [_sentence(rng, lang, 10), _sentence(rng, lang, 10)],
            style=style, par_size=body_sz,
            run_props=[{}, {"bold": None, "size": sig.FONT_UNKNOWN}],
        )


def _gen_builtin_heading_heuristic_doc(
    doc: _Doc, rng: random.Random, lang: str
) -> None:
    """Docs where builtin 'heading N' styles seed the exact-fontprop map."""
    body_sz = 11.0
    doc.body_par(_sentence(rng, lang, 4), style="heading 1",
                 par_size=16.0, par_bold=True)
    doc.body_par(_sentence(rng, lang, 30), style="normal", par_size=body_sz)
    # custom-styled par with exactly the heading-1 fontprop → heading_1
    doc.body_par(_sentence(rng, lang, 4), style="mystyle",
                 par_size=16.0, par_bold=True)
    doc.body_par(_sentence(rng, lang, 30), style="mystyle", par_size=body_sz)
    doc.body_par(_sentence(rng, lang, 25), style="normal", par_size=body_sz)
    # a list par under builtin-heading mode (content-aware list suppressed)
    doc.body_par(f"- {_sentence(rng, lang, 6)}", style="mystyle",
                 par_size=body_sz)


def _gen_form_doc(doc: _Doc, rng: random.Random, lang: str) -> None:
    doc.body_par(_sentence(rng, lang, 30), style="normal")
    doc.body_par([f"Name: ", "_" * rng.randint(4, 12)], style="normal")
    # field split across a run seam
    doc.body_par(
        [f"{_sentence(rng, lang, 3)} __", "__ {}".format(_sentence(rng, lang, 4))],
        style="normal",
    )
    # underlined whitespace run as field
    doc.body_par(
        ["Date:", "    ", _sentence(rng, lang, 2)], style="normal",
        run_props=[{}, {"underline": True}, {}],
    )
    # dotted field
    doc.body_par([f"Sign here ", "." * 8], style="normal")
    # sdt-based form controls (tag run labelling a field)
    if rng.random() < 0.7:
        doc.add(sig.encode_sdt("", form="tag"), "Full name")
        doc.add(sig.encode_sdt("", form="field"), "Click here to enter text")
    doc.body_par(_sentence(rng, lang, 30), style="normal")


def _gen_list_quote_doc(doc: _Doc, rng: random.Random, lang: str) -> None:
    doc.body_par(_sentence(rng, lang, 25), style="normal")
    for i in range(rng.randint(2, 5)):
        b = rng.choice(BULLETS)
        doc.body_par(f"{b} {_sentence(rng, lang, 8)}", style="normal")
    for i in range(1, rng.randint(2, 4) + 1):
        doc.body_par(f"{i}. {_sentence(rng, lang, 7)}", style="normal")
    doc.body_par(f"a) {_sentence(rng, lang, 6)}", style="normal")
    doc.body_par(f'"{_sentence(rng, lang, 12)}"', style="normal")
    doc.body_par(f"'{_sentence(rng, lang, 9)}'", style="normal")
    doc.body_par(_sentence(rng, lang, 25), style="normal")


def _gen_table_media_doc(doc: _Doc, rng: random.Random, lang: str) -> None:
    doc.body_par(_sentence(rng, lang, 30), style="normal")
    for _ in range(rng.randint(1, 3)):
        t = doc.tbl
        doc.tbl += 1
        n_rows, n_cols = rng.randint(2, 5), rng.randint(2, 4)
        header_rows = 1 if rng.random() < 0.7 else 0
        for r in range(n_rows):
            for c in range(n_cols):
                txt = (
                    _sentence(rng, lang, 2)
                    if rng.random() > 0.15
                    else ""
                )
                doc.add(sig.encode_cell(t, r, c, header=r < header_rows), txt)
        # nested table hoisted right after its parent (grammar rule; the
        # reference recurses into in-cell tables,
        # table_colorization_handler.py:165-178)
        if rng.random() < 0.35:
            nt = doc.tbl
            doc.tbl += 1
            for r in range(rng.randint(1, 3)):
                for c in range(2):
                    doc.add(
                        sig.encode_cell(nt, r, c, header=False, parent=t),
                        _sentence(rng, lang, 2) if rng.random() > 0.2 else "",
                    )
        if rng.random() < 0.5:
            doc.body_par(_sentence(rng, lang, 6), style="caption")
    for i in range(rng.randint(1, 3)):
        doc.add("fig", "", media_ref=f"media/image{i + 1}.png")
    doc.body_par(_sentence(rng, lang, 20), style="normal")


def _gen_stream_doc(doc: _Doc, rng: random.Random, lang: str) -> None:
    doc.add(f"hp;p={doc.hp}", _sentence(rng, lang, 5))
    doc.hp += 1
    doc.add(f"fp;p={doc.fp}", f"page {rng.randint(1, 30)}")
    doc.fp += 1
    doc.body_par(_sentence(rng, lang, 35), style="normal")
    doc.add(f"xp;p={doc.xp}", _sentence(rng, lang, 8))
    doc.xp += 1
    doc.add(sig.encode_sdt("Table of Contents"), _sentence(rng, lang, 6))
    doc.add(sig.encode_sdt("bibliography"), _sentence(rng, lang, 10))
    doc.body_par(_sentence(rng, lang, 25), style="normal")


_ARCHETYPES = [
    (_gen_builtin_doc, 0.30),
    (_gen_heuristic_doc, 0.25),
    (_gen_builtin_heading_heuristic_doc, 0.10),
    (_gen_form_doc, 0.10),
    (_gen_list_quote_doc, 0.10),
    (_gen_table_media_doc, 0.10),
    (_gen_stream_doc, 0.05),
]

# w:lang tag values per document language (languages_autocorrect analog)
_LANG_TAGS = {
    "en": ["en-US", "en-GB"],
    "de": ["de-DE", "de-AT"],
    "fr": ["fr-FR", "fr-CA"],
}


def _add_meta(doc: _Doc, rng: random.Random, lang: str) -> None:
    """Document-intrinsic metadata spans (D12, oxml_metadata.py:33-58):
    core properties + w:lang tags, all deterministic."""
    y, m, d = rng.randint(2012, 2022), rng.randint(1, 12), rng.randint(1, 28)
    created = f"{y:04d}-{m:02d}-{d:02d}T{rng.randint(0, 23):02d}:00:00"
    y2 = y + rng.randint(0, 2)
    modified = f"{y2:04d}-{m:02d}-{d:02d}T{rng.randint(0, 23):02d}:30:00"
    doc.add(sig.encode_meta("core_created"), created)
    doc.add(sig.encode_meta("core_modified"), modified)
    if rng.random() < 0.5:
        doc.add(sig.encode_meta("core_title"), _sentence(rng, lang, 4))
    tags = _LANG_TAGS[lang][: rng.randint(1, 2)]
    if rng.random() < 0.2:
        tags = tags + [rng.choice(_LANG_TAGS[rng.choice(list(VOCAB))])]
    for tag in tags:
        doc.add(sig.encode_meta("lang_tag"), tag)


def generate_doc(
    doc_id: str, rng: random.Random, mega: bool = False,
    monster: bool = False, ultra: bool = False,
) -> _Doc:
    doc = _Doc(doc_id)
    lang = rng.choice(list(VOCAB))
    if mega or monster or ultra:
        # skewed documents: mega ~10-20k spans and monster ~110k spans are
        # classified in place (below salt_threshold); ultra ~300k spans
        # exceeds it and takes the salted chunk path
        _add_meta(doc, rng, lang)
        if ultra:
            sections = rng.randint(19_000, 21_000)
        elif monster:
            sections = rng.randint(6500, 7500)
        else:
            sections = rng.randint(400, 700)
        for _ in range(sections):
            gen = rng.choices(
                [a for a, _ in _ARCHETYPES], [w for _, w in _ARCHETYPES]
            )[0]
            gen(doc, rng, lang)
            if rng.random() < 0.3:
                doc.add(sig.PAGE_BREAK, "")
        return doc
    r = rng.random()
    if r < 0.03:
        # sub-min-text doc (reject path)
        doc.body_par(_sentence(rng, lang, rng.randint(2, 8)), style="normal")
        return doc
    _add_meta(doc, rng, lang)
    gen = rng.choices([a for a, _ in _ARCHETYPES], [w for _, w in _ARCHETYPES])[0]
    gen(doc, rng, lang)
    # multi-page docs: extra page(s) with another section (~half of docs)
    while rng.random() < 0.5:
        doc.add(sig.PAGE_BREAK, "")
        extra = rng.choices(
            [a for a, _ in _ARCHETYPES], [w for _, w in _ARCHETYPES]
        )[0]
        extra(doc, rng, lang)
        if rng.random() > 0.35:
            break
    if rng.random() < 0.05:
        doc.add(sig.PAGE_BREAK, "")  # trailing blank page (empty-page path)
    # pad: ensure most docs clear the 200-char gate
    while sum(len(t) for _, t, _ in doc.spans) < 260:
        doc.body_par(_sentence(rng, lang, 20), style="normal")
    return doc


SPAN_TYPE = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]
)
# n_spans is the MAINTAINED size column (what an Iceberg table would carry
# as partition/file metadata): the extract salt-threshold split filters on
# it, so parquet row-group min/max stats prune the mega-doc scan instead of
# re-reading the whole spans column (see operators/extract.py)
SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("spans", pa.list_(SPAN_TYPE)),
        ("n_spans", pa.int32()),
    ]
)


def generate_table(sf: float, seed: int = 7) -> pa.Table:
    n = n_docs_for_sf(sf)
    mega_every = 1000       # ~10-20k-span mega-doc per 1000 docs
    monster_every = 10_000  # ~110k-span monster per 10k docs (inline skew)
    ultra_every = 50_000    # ~300k-span ultra per 50k docs (salted path)
    doc_ids, spans_col = [], []
    for i in range(n):
        rng = random.Random((seed, round(sf * 1000), i).__hash__() & 0x7FFFFFFF)
        ultra = i % ultra_every == 25_000
        monster = i % monster_every == 5000 and not ultra
        mega = i > 0 and i % mega_every == 0 and not monster and not ultra
        doc = generate_doc(
            f"doc-{i:08d}", rng, mega=mega, monster=monster, ultra=ultra
        )
        doc_ids.append(doc.doc_id)
        spans_col.append(doc.rows())
    return pa.Table.from_pydict(
        {
            "doc_id": doc_ids,
            "spans": spans_col,
            "n_spans": [len(s) for s in spans_col],
        },
        schema=SCHEMA,
    )


def sf_from_dir(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", str(sf_dir))
    return float(m.group(1)) if m else 0.01


def make_data_dir(path: os.PathLike | str) -> pathlib.Path:
    """``mkdir -p path`` for generated data, failing loudly where nothing
    can be written: imported from ``scripts/package.sh``'s zip, the
    package's ``DATA_DIR`` lies inside the archive file."""
    path = pathlib.Path(path)
    if any(p.is_file() for p in path.parents):
        raise RuntimeError(
            f"cannot generate data under {path}: it lies inside a file "
            "(the package was imported from a zip); run from a checkout"
        )
    path.mkdir(parents=True, exist_ok=True)
    return path


def write_atomic(path: os.PathLike | str, write: Callable[[str], object]) -> str:
    """Write ``path`` through ``write(tmp)`` on a temp file beside it, then
    ``os.replace``: readers and concurrent writers see the whole file or
    none, and a failed write leaves neither the file nor the temp file."""
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path), suffix=".tmp")
    os.close(fd)
    try:
        write(tmp)
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)
    return str(path)


def zip_bytes(
    entries: Iterable[tuple[str, bytes | str]], stored: tuple[str, ...] = ()
) -> bytes:
    """A zip of ``(name, data)`` entries in order, DEFLATED except the
    names in ``stored``.  Each entry is written through a ``ZipInfo``,
    whose fixed 1980-01-01 ``date_time`` replaces the clock stamp a bare
    name gets, so the same entries give the same bytes."""
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for name, data in entries:
            kind = zipfile.ZIP_STORED if name in stored else zipfile.ZIP_DEFLATED
            zf.writestr(zipfile.ZipInfo(name), data, kind)
    return buf.getvalue()


def ensure_interleaved(sf: float) -> str:
    """Idempotently materialize the interleaved table for a scale factor;
    returns the parquet path."""
    out_dir = BASE_DIR / f"v{DATAGEN_VERSION}" / f"sf{sf:g}"
    out = out_dir / "docs.parquet"
    if out.exists():
        return str(out)
    make_data_dir(out_dir)
    table = generate_table(sf)
    # row-group sizing: small groups so Spark can split the scan across
    # many tasks even for a single local file
    return write_atomic(
        out, lambda tmp: pq.write_table(table, tmp, row_group_size=256)
    )


def ensure_rendered(
    version_dir: pathlib.Path,
    sf: float,
    render: Callable[[str, list[dict]], bytes],
) -> str:
    """Idempotently materialize ``version_dir/sf{sf}/docs.parquet``, one
    ``(doc_id, content)`` row per interleaved document with ``content =
    render(doc_id, spans)``: the write step of every binary-format writer
    (docxgen, docgen_doc, pdfgen, rtfgen, odtgen)."""
    out_dir = version_dir / f"sf{sf:g}"
    out = out_dir / "docs.parquet"
    if out.exists():
        return str(out)
    make_data_dir(out_dir)
    docs = pq.read_table(ensure_interleaved(sf)).to_pylist()
    table = pa.table(
        {
            "doc_id": [d["doc_id"] for d in docs],
            "content": [render(d["doc_id"], d["spans"]) for d in docs],
        },
        schema=pa.schema([("doc_id", pa.string()), ("content", pa.binary())]),
    )
    return write_atomic(
        out, lambda tmp: pq.write_table(table, tmp, row_group_size=256)
    )


if __name__ == "__main__":
    import sys

    sf = float(sys.argv[1]) if len(sys.argv) > 1 else 0.01
    print(ensure_interleaved(sf))
