"""RTF ingestion: raw RTF byte streams → the interleaved span grammar.

A single-pass tokenizer + group-stack interpreter over the RTF 1.x
language (public RTF 1.9.1 specification): control words with optional
signed numeric parameters and one optional delimiting space, control
symbols (``\\'hh`` codepage escapes, escaped ``\\{}\\\\``), ``{``/``}``
group save/restore of formatting state, destination groups (font/color
tables skipped, the stylesheet parsed into an ``\\sN`` → name map,
``{\\*\\...}`` ignorable destinations skipped unless known), Unicode
``\\uN`` escapes with ``\\ucN`` fallback skipping and surrogate-pair
recombination, and raw CR/LF ignored per spec.

Document content maps onto the span grammar exactly like the PDF reader
(operators/pdf.py) plus paragraph STYLE:

* ``\\pard ... \\par`` delimits a paragraph; its kind is
  ``sig.encode_run`` with the style NAME resolved through the stylesheet
  (so the C8 builtin-style classification fires for RTF, as it does for
  .docx and PAPX-styled legacy .doc), character size from ``\\fsN``
  (half-points) and bold from ``\\b`` — captured at the paragraph's
  first text character (or at ``\\par`` for empty paragraphs), matching
  the writers' first-run convention;
* ``\\page`` → a ``pb`` span;
* pictures → ``fig`` spans: an embedded ``\\pict`` carries its
  media_ref as the ``{\\*\\blipuid <hex>}`` blip UID; a linked picture
  arrives as an ``INCLUDEPICTURE "ref"`` field instruction
  (``{\\field{\\*\\fldinst ...}}``).

Scale shape: one ``sources.ingest.binary_to_rows`` (``mapInArrow``) pass
over the binary column — zero shuffle, per-document fault isolation
(malformed streams yield empty span arrays, rejected downstream as
min_text, never task failures).

Reference surface this replaces: WordScape routes downloaded Word-family
payloads per format (app/src/data_sources/download_process.py); RTF is
the third Word-family container next to .doc/.docx.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from wordscape_spark import signal as sig
from wordscape_spark.operators.extract import INPUT_SCHEMA
from wordscape_spark.sources.ingest import binary_to_rows

#: destinations whose content is discarded
_DEST_SKIP = {
    "fonttbl", "colortbl", "info", "fldrslt", "generator",
    "themedata", "datastore", "listtable", "listoverridetable",
}
#: ``{\*\word`` destinations we process instead of skipping
_KNOWN_STAR = {"shppict", "blipuid", "fldinst", "generator"}

_INCLUDEPICTURE_RE = re.compile(r'INCLUDEPICTURE\s+"([^"]*)"')

_ALPHA = frozenset(b"abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ")
_DIGITS = frozenset(b"0123456789-")

#: RTF document default font size (\fs24 = 12 pt, RTF 1.9.1) — only
#: reachable on foreign files; the round-trip writer always emits \fs
_DEFAULT_PT = 12.0


def parse_rtf_bytes(data: bytes) -> list[dict]:
    """One RTF byte string → ordered span rows in the interleaved
    grammar (see module docstring for the mapping)."""
    if not data.startswith(b"{\\rtf"):
        raise ValueError("not an RTF stream")
    n = len(data)
    i = 0

    # group-scoped state (saved on '{', restored on '}')
    state: dict = {
        "bold": False, "fs": None, "istd": None, "uc": 1,
        "dest": None, "owner": False, "buf": None, "istd_local": None,
        "pict_ref": None, "star": False,
    }
    stack: list[dict] = []

    styles: dict[int, str] = {}
    items: list = []  # sig.item_spans items; paragraphs unresolved
    cur_text: list[str] = []
    cur_props: tuple | None = None
    par_open = False
    skip_fallback = 0
    pend_high: int | None = None

    def flush_par() -> None:
        nonlocal cur_props, par_open
        props = cur_props or (state["istd"], state["fs"], state["bold"])
        items.append(("".join(cur_text), *props))
        cur_text.clear()
        cur_props = None
        par_open = False

    def put_char(ch: str) -> None:
        nonlocal skip_fallback, cur_props, par_open
        if skip_fallback > 0:
            skip_fallback -= 1
            return
        dest = state["dest"]
        if dest == "skip":
            return
        if dest in ("stylesheet", "fldinst", "blipuid"):
            if state["buf"] is None:
                state["buf"] = []
            state["buf"].append(ch)
            return
        if dest == "pict":
            return  # picture binary/hex payload
        par_open = True
        if cur_props is None:
            cur_props = (state["istd"], state["fs"], state["bold"])
        cur_text.append(ch)

    def handle_word(word: str, param: int | None) -> None:
        nonlocal skip_fallback, pend_high, cur_props, par_open
        star, state["star"] = state["star"], False
        if star and word not in _KNOWN_STAR and word not in _DEST_SKIP:
            state["dest"] = "skip"
            return
        dest = state["dest"]
        if dest == "skip":
            return
        if word in _DEST_SKIP:
            state["dest"] = "skip"
        elif word == "stylesheet":
            state["dest"] = "stylesheet"
        elif word == "pict":
            state["dest"] = "pict"
            state["owner"] = True
            state["pict_ref"] = [None]
        elif word == "fldinst":
            state["dest"] = "fldinst"
            state["owner"] = True
            state["buf"] = []
        elif word == "blipuid":
            state["dest"] = "blipuid"
            state["owner"] = True
            state["buf"] = []
        elif word == "uc" and param is not None:
            state["uc"] = max(0, param)
        elif word == "u" and param is not None:
            cu = param + 65536 if param < 0 else param
            if 0xD800 <= cu <= 0xDBFF:
                pend_high = cu
            else:
                if 0xDC00 <= cu <= 0xDFFF and pend_high is not None:
                    cu = (
                        0x10000
                        + ((pend_high - 0xD800) << 10)
                        + (cu - 0xDC00)
                    )
                pend_high = None
                put_char(chr(cu))
            skip_fallback = state["uc"]
        elif word == "line":
            put_char("\n")
        elif word == "tab":
            put_char("\t")
        elif dest == "stylesheet":
            if word == "s" and param is not None:
                state["istd_local"] = param
        elif dest in ("pict", "fldinst", "blipuid"):
            pass  # \pngblip, \picw..., field switches — ignored
        elif word == "par":
            flush_par()
        elif word == "pard":
            if cur_text:
                flush_par()
            state["istd"] = None
            par_open = True
            cur_props = None
        elif word == "page":
            items.append(sig.PAGE_BREAK)
        elif word == "plain":
            state["bold"] = False
            state["fs"] = None
        elif word == "b":
            state["bold"] = param != 0 if param is not None else True
        elif word == "fs" and param is not None:
            state["fs"] = param
        elif word == "s" and param is not None:
            state["istd"] = param
        # all other control words (\rtf1, \ansi, \deff0, \froman, \ql,
        # table/row words, ...) are ignored per the "unknown control
        # words are skipped" rule

    while i < n:
        c = data[i]
        if c == 0x7B:  # {
            stack.append(state)
            state = dict(state)
            state["owner"] = False
            state["buf"] = None
            state["istd_local"] = None
            state["star"] = False
            i += 1
        elif c == 0x7D:  # }
            popped = state
            state = stack.pop() if stack else popped
            dest = popped["dest"]
            if dest == "blipuid" and popped["owner"] and popped["buf"]:
                try:
                    ref = bytes.fromhex(
                        "".join(popped["buf"]).strip()
                    ).decode("utf-8")
                except ValueError:
                    ref = ""
                if popped["pict_ref"] is not None:
                    popped["pict_ref"][0] = ref
            elif dest == "fldinst" and popped["owner"]:
                m = _INCLUDEPICTURE_RE.search("".join(popped["buf"] or []))
                if m:
                    items.append(("fig", m.group(1)))
            elif dest == "pict" and popped["owner"]:
                ref = (popped["pict_ref"] or [None])[0]
                items.append(("fig", ref or ""))
            elif dest == "stylesheet" and popped["istd_local"] is not None:
                name = "".join(popped["buf"] or [])
                if name.endswith(";"):
                    name = name[:-1]
                styles[popped["istd_local"]] = name
            i += 1
        elif c == 0x5C:  # backslash
            if i + 1 >= n:
                break
            nxt = data[i + 1]
            if nxt in _ALPHA:
                j = i + 1
                while j < n and data[j] in _ALPHA:
                    j += 1
                word = data[i + 1:j].decode("ascii")
                param = None
                if j < n and data[j] in _DIGITS:
                    k = j + (1 if data[j] == 0x2D else 0)
                    k0 = j
                    j = k
                    while j < n and 0x30 <= data[j] <= 0x39:
                        j += 1
                    try:
                        param = int(data[k0:j])
                    except ValueError:
                        param = None
                if j < n and data[j] == 0x20:  # delimiter space consumed
                    j += 1
                handle_word(word, param)
                i = j
            elif nxt == 0x27:  # \'hh codepage escape
                hh = data[i + 2:i + 4]
                try:
                    b = int(hh, 16)
                except ValueError:
                    b = 0x3F
                try:
                    ch = bytes([b]).decode("cp1252")
                except UnicodeDecodeError:
                    ch = chr(b)
                put_char(ch)
                i += 4
            elif nxt in (0x0D, 0x0A):  # \<CR>/<LF> ≡ \par (spec)
                handle_word("par", None)
                i += 2
            elif nxt == 0x2A:  # \*
                state["star"] = True
                i += 2
            elif nxt == 0x7E:  # \~ non-breaking space
                put_char("\xa0")
                i += 2
            elif nxt in (0x2D, 0x5F):  # \- \_ optional/nb hyphen
                i += 2
            else:  # \\ \{ \} and any other symbol → literal
                put_char(chr(nxt))
                i += 2
        elif c in (0x0D, 0x0A):
            i += 1  # raw CR/LF is ignored per spec
        else:
            put_char(chr(c) if c < 0x80 else bytes([c]).decode(
                "cp1252", errors="replace"))
            i += 1
    if cur_text:
        flush_par()
    # a paragraph is (text, istd, fs, bold) until the stylesheet is read
    return sig.item_spans(
        (it[0], styles.get(it[1], ""), it[2] / 2.0 if it[2] else _DEFAULT_PT,
         it[3]) if len(it) == 4 else it
        for it in items
    )


def rtf_to_spans(df: DataFrame) -> DataFrame:
    """Arrow-batched RTF ingestion: (doc_id, content binary) →
    (doc_id, spans).  Zero shuffle; per-document fault isolation."""
    return binary_to_rows(df, parse_rtf_bytes, INPUT_SCHEMA)
