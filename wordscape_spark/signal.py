"""Input span signal grammar.

The engine's input is an interleaved-document table
``(doc_id, spans: array<struct<kind,text,media_ref,offset>>)``.  The ``kind``
field of an *input* span carries the raw structural signal of the span — the
analog of what the reference reads out of OOXML ``document.xml`` (style names,
resolved font properties, numbering/math flags, table position, structural
origin).  Grammar: ``<tag>`` or ``<tag>;k=v;k=v;...`` with ``;``/``=`` reserved.

Tags
----
``r``    body-paragraph run.  Fields:
         ``p``   paragraph index within the body (int)
         ``s``   lowercase style name ('' ⇒ paragraph has no style)
         ``psz`` applied paragraph-style font size in pt (float, -1 unknown)
         ``pb``/``pi`` paragraph bold/italic: ``1``/``0``/``-`` (- = None)
         ``sz``  applied run font size (float, -1 unknown)
         ``b``/``i`` run bold/italic: ``1``/``0``/``-``
         ``u``   run underline flag 0/1
         ``m``   paragraph contains math (oMath analog) 0/1
         ``n``   paragraph has list numbering (numPr analog) 0/1
``hp``   header-stream paragraph run (field ``p``)
``fp``   footer-stream paragraph run (field ``p``)
``xp``   text-box paragraph run (field ``p``)
``sdt``  structured-document-tag paragraph; field ``g`` = gallery string
``tc``   table cell; fields ``t`` (table idx), ``r`` (row), ``c`` (col),
         ``h`` (1 = header row), optional ``pt`` (parent table idx — set when
         this table is nested inside a cell of table ``pt``; the producer
         hoists a nested table's spans into their own contiguous block right
         after the parent table's spans, mirroring the reference's recursion
         into nested tables, table_colorization_handler.py:165-178)
``fig``  embedded media; ``media_ref`` of the span is the pointer
``pb``   page-break marker (analog of ``w:br w:type="page"`` /
         ``w:lastRenderedPageBreak``): increments the 1-based page counter;
         every element belongs to the page current at its first span
         (page-level records per orm/models.py:132-187)
``meta`` document-intrinsic metadata span (oxml_metadata.py:33-58 analog);
         field ``k`` = property key (``core_created``, ``core_modified``,
         ``core_title``, ... or ``lang_tag`` for one ``w:lang`` value);
         span ``text`` carries the property value

Paragraphs are maximal runs of consecutive spans sharing a tag + ``p`` (or
``t`` for tables): document order is the ``offset`` order.  Font properties
arrive *already resolved* through the style-inheritance chain (the reference
resolves base-style chains at parse time, heuristics/utils.py:13-118); the
unknown-size (``-1``) and tri-state bold/italic cases still occur and feed the
same fallback logic.
"""

from __future__ import annotations

from typing import Any, Callable, NamedTuple

FONT_UNKNOWN = -1.0

# levels used by the per-document font heuristic map
LEVEL_BODY = -10
LEVEL_TITLE = -20


class RunSignal(NamedTuple):
    tag: str
    par: int
    style: str
    par_size: float
    par_bold: bool | None
    par_italic: bool | None
    size: float
    bold: bool | None
    italic: bool | None
    underline: bool
    math: bool
    numbered: bool
    text: str


class CellSignal(NamedTuple):
    table: int
    row: int
    col: int
    header: bool
    text: str
    parent: int | None = None  # parent table idx when nested, else None


def _tri(v: str) -> bool | None:
    if v == "-":
        return None
    return v == "1"


def parse_fields(kind: str) -> tuple[str, dict[str, str]]:
    parts = kind.split(";")
    tag = parts[0]
    fields = {}
    for part in parts[1:]:
        k, _, v = part.partition("=")
        fields[k] = v
    return tag, fields


# kind-string → parsed fields cache: kinds repeat heavily across spans and
# documents (~6× at the sf0.01 mix), and the split+convert is ~17% of
# classification; bounded with a cheap epoch clear (the working set of one
# task re-fills in one batch).  The second-level cache keys on the kind
# with the paragraph index removed: ``p=`` is the only per-paragraph field,
# so distinct full kinds per corpus grow with paragraph count while the
# (tag, style+font-prop rest) combinations stay small — a full-kind miss
# usually only needs one int() instead of a 12-field parse.
_RUN_KIND_CACHE: dict[str, tuple] = {}
_RUN_REST_CACHE: dict[str, tuple] = {}
_RUN_KIND_CACHE_MAX = 1 << 16


def parse_run(kind: str, text: str) -> RunSignal:
    fields = _RUN_KIND_CACHE.get(kind)
    if fields is None:
        if len(_RUN_KIND_CACHE) >= _RUN_KIND_CACHE_MAX:
            _RUN_KIND_CACHE.clear()
        i1 = kind.find(";")
        i2 = kind.find(";", i1 + 1) if i1 >= 0 else -1
        if i2 >= 0 and kind.startswith("p=", i1 + 1):
            rest_key = kind[:i1] + kind[i2:]
            tmpl = _RUN_REST_CACHE.get(rest_key)
            if tmpl is None:
                if len(_RUN_REST_CACHE) >= _RUN_KIND_CACHE_MAX:
                    _RUN_REST_CACHE.clear()
                tmpl = tuple(_parse_run_uncached(kind, ""))[:-1]
                _RUN_REST_CACHE[rest_key] = tmpl
            # identical tag + rest ⇒ every field but par parses identically
            fields = (tmpl[0], int(kind[i1 + 3 : i2])) + tmpl[2:]
        else:
            fields = tuple(_parse_run_uncached(kind, ""))[:-1]
        _RUN_KIND_CACHE[kind] = fields
    return RunSignal(*fields, text)


def _parse_run_uncached(kind: str, text: str) -> RunSignal:
    # fast path: the canonical field order emitted by encode_run
    parts = kind.split(";")
    if (
        len(parts) == 12
        and parts[1].startswith("p=")
        and parts[2].startswith("s=")
        and parts[3].startswith("psz=")
        and parts[6].startswith("sz=")
    ):
        try:
            return RunSignal(
                tag=parts[0],
                par=int(parts[1][2:]),       # p=
                style=parts[2][2:],          # s=
                par_size=float(parts[3][4:]),  # psz=
                par_bold=_tri(parts[4][3:]),   # pb=
                par_italic=_tri(parts[5][3:]),  # pi=
                size=float(parts[6][3:]),    # sz=
                bold=_tri(parts[7][2:]),     # b=
                italic=_tri(parts[8][2:]),   # i=
                underline=parts[9][2:] == "1",
                math=parts[10][2:] == "1",
                numbered=parts[11][2:] == "1",
                text=text,
            )
        except (ValueError, IndexError):
            pass
    tag, f = parse_fields(kind)
    return RunSignal(
        tag=tag,
        par=int(f.get("p", "0")),
        style=f.get("s", ""),
        par_size=float(f.get("psz", "-1")),
        par_bold=_tri(f.get("pb", "-")),
        par_italic=_tri(f.get("pi", "-")),
        size=float(f.get("sz", "-1")),
        bold=_tri(f.get("b", "-")),
        italic=_tri(f.get("i", "-")),
        underline=f.get("u", "0") == "1",
        math=f.get("m", "0") == "1",
        numbered=f.get("n", "0") == "1",
        text=text,
    )


def body_items(spans: list[dict], par: Callable[[RunSignal], Any]) -> list:
    """One document's body as the binary-format writers render it, in
    offset order: ``{"type": "pb"}`` per page break, ``{"type": "fig",
    "ref": media_ref}`` per figure, and ``par(run)`` per body paragraph at
    its first run, where ``run`` is that first run's ``RunSignal`` carrying
    the text of every run sharing its ``p`` (runs split by other spans
    join).  Header/footer/table/sdt/meta spans are skipped."""
    items: list = []
    pars: dict[int, tuple[int, RunSignal, list[str]]] = {}
    for span in sorted(spans, key=lambda s: s["offset"]):
        kind = span["kind"]
        if kind == PAGE_BREAK:
            items.append({"type": "pb"})
        elif kind == "fig":
            items.append({"type": "fig", "ref": span["media_ref"] or ""})
        elif kind.startswith("r;"):
            run = parse_run(kind, span["text"] or "")
            if run.par not in pars:
                pars[run.par] = (len(items), run, [])
                items.append(None)
            pars[run.par][2].append(run.text)
    for i, run, texts in pars.values():
        items[i] = par(run._replace(text="".join(texts)))
    return items


def item_spans(items) -> list[dict]:
    """The binary readers' twin of ``body_items``: one document's items in
    reading order → span rows.  An item is ``PAGE_BREAK`` (a ``pb`` span),
    a 2-tuple ``("fig", media_ref)`` (a ``fig`` span) or a 4-tuple
    ``(text, style, size, bold)`` (a body paragraph, numbered ``p=0,1,…``
    in order).  The tuple's length, not its first field, marks a figure,
    so a paragraph whose text is ``fig`` stays a paragraph.  ``offset``
    numbers every span."""
    out = []
    par = 0
    for offset, it in enumerate(items):
        if it == PAGE_BREAK:
            span = {"kind": PAGE_BREAK, "text": None, "media_ref": None}
        elif len(it) == 2:
            span = {"kind": "fig", "text": "", "media_ref": it[1]}
        else:
            text, style, size, bold = it
            kind = encode_run(par=par, style=style, size=size, bold=bold)
            span = {"kind": kind, "text": text, "media_ref": None}
            par += 1
        out.append({**span, "offset": offset})
    return out


def parse_cell(kind: str, text: str) -> CellSignal:
    # fast path: canonical encode_cell field order (no pt field)
    parts = kind.split(";")
    if (
        len(parts) == 5
        and parts[1].startswith("t=")
        and parts[2].startswith("r=")
    ):
        try:
            return CellSignal(
                table=int(parts[1][2:]),
                row=int(parts[2][2:]),
                col=int(parts[3][2:]),
                header=parts[4][2:] == "1",
                text=text,
            )
        except (ValueError, IndexError):
            pass
    _, f = parse_fields(kind)
    pt = f.get("pt")
    return CellSignal(
        table=int(f.get("t", "0")),
        row=int(f.get("r", "0")),
        col=int(f.get("c", "0")),
        header=f.get("h", "0") == "1",
        text=text,
        parent=int(pt) if pt else None,
    )


def _fmt_tri(v: bool | None) -> str:
    return "-" if v is None else ("1" if v else "0")


def encode_run(
    par: int,
    style: str,
    par_size: float = FONT_UNKNOWN,
    par_bold: bool | None = None,
    par_italic: bool | None = None,
    size: float = FONT_UNKNOWN,
    bold: bool | None = None,
    italic: bool | None = None,
    underline: bool = False,
    math: bool = False,
    numbered: bool = False,
    tag: str = "r",
) -> str:
    return (
        f"{tag};p={par};s={style};psz={par_size};pb={_fmt_tri(par_bold)};"
        f"pi={_fmt_tri(par_italic)};sz={size};b={_fmt_tri(bold)};"
        f"i={_fmt_tri(italic)};u={int(underline)};m={int(math)};n={int(numbered)}"
    )


def encode_cell(
    table: int, row: int, col: int, header: bool, parent: int | None = None
) -> str:
    base = f"tc;t={table};r={row};c={col};h={int(header)}"
    if parent is not None:
        base += f";pt={parent}"
    return base


def encode_meta(key: str) -> str:
    """Document-metadata span kind; value travels in the span's text."""
    return f"meta;k={key}"


PAGE_BREAK = "pb"


def encode_sdt(gallery: str, form: str = "") -> str:
    """Structured document tag.  ``gallery`` is the docPartGallery string
    (toc/bibliography detection); ``form`` ∈ {'', 'field', 'tag'} marks
    sdt-based form fields/tags (the reference's colorize_builtin_form_elements
    path, entities/form.py:11-170)."""
    return f"sdt;g={gallery};f={form}"


# (size, bold, italic) → fontprop key memo: the float→str conversion and
# concat run once per distinct resolved prop combo instead of once per run
# (a document reuses a handful of combos across thousands of runs); bounded
# like _RUN_KIND_CACHE
_FONTPROP_CACHE: dict[tuple, str] = {}


def fontprop_string(size: float, bold: bool | None, italic: bool | None) -> str:
    """Canonical fontprop key: str(size) + b/i/bi/n suffix
    (ref: heuristics/utils.py:216-234)."""
    key = (size, bold, italic)
    cached = _FONTPROP_CACHE.get(key)
    if cached is None:
        if len(_FONTPROP_CACHE) >= _RUN_KIND_CACHE_MAX:
            _FONTPROP_CACHE.clear()
        suffix = ""
        if bold:
            suffix += "b"
        if italic:
            suffix += "i"
        cached = str(size) + (suffix or "n")
        _FONTPROP_CACHE[key] = cached
    return cached
