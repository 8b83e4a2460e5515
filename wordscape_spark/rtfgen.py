"""Independent spec-built RTF writer: interleaved span grammar → real
RTF 1.x byte streams, for round-tripping the RTF reader
(operators/rtf.py) the same way docxgen/docgen_doc/pdfgen round-trip
their readers.  Built from the public RTF 1.9.1 specification (control
words, groups, destinations); shares no code with the reader.

Rendered surface per document (three independent md5(doc_id) bits pick
the layout so every reader path appears at every sf):

* header: ``\\rtf1\\ansi\\ansicpg1252\\deff0\\uc1``, a font table, a color
  table, a REAL stylesheet (one ``\\sN`` slot per distinct paragraph
  style, names escaped), and a ``{\\*\\generator ...}`` ignorable
  destination (reader skip coverage);
* body paragraphs: ``\\pard\\plain[\\sN][\\b]\\fsN text\\par`` — paragraph
  style from the first run's ``s=`` field, character formatting from the
  first run's resolved bold/size (half-points via floor(sz*2+0.5), the
  same formulation as the .doc writer so dual-dialect oracles agree;
  unknown size ⇒ 11 pt).  digest[-3] even ⇒ character formatting is
  wrapped in a GROUP (``{\\b\\fsN text}``) so the reader's group-state
  save/restore is exercised; odd ⇒ flat;
* text escaping: ``\\``/``{``/``}`` escaped, newline → ``\\line``, tab →
  ``\\tab``, ASCII printable literal; higher codepoints as cp1252
  ``\\'hh`` hex escapes when digest[-2] is even and the char is
  cp1252-encodable, else signed-decimal ``\\uN?`` UTF-16 code units
  (surrogate pairs for astral chars) with the ``\\uc1`` fallback ``?``;
* figures: digest[-1] even ⇒ an embedded picture destination
  ``{\\*\\shppict{\\pict{\\*\\blipuid <hex(media_ref)>}\\pngblip...}}``
  (media_ref carried as the blip UID, the RTF analog of a stable image
  identity); odd ⇒ a linked-picture field
  ``{\\field{\\*\\fldinst INCLUDEPICTURE "<media_ref>" \\\\d}...}``;
* page breaks: ``\\page`` between paragraphs.

Reference surface this supports: WordScape ingests Word-family binaries
fetched by content-type/extension routing
(/root/reference/app/src/data_sources/download_process.py); RTF is the
third Word-family container next to .doc and .docx.
"""

from __future__ import annotations

import hashlib

from wordscape_spark import datagen
from wordscape_spark import signal as sig

BASE_DIR = datagen.DATA_DIR / "rtf"

#: default body size when the run carries none (matches pdfgen)
_DEFAULT_HPS = 22  # 11 pt in half-points


def par_item(run: sig.RunSignal) -> dict:
    """One body paragraph → RTF item: the paragraph STYLE plus character
    formatting from its first run (half-points, unknown size ⇒ 11 pt)."""
    return {
        "type": "par",
        "text": run.text,
        "hps": _DEFAULT_HPS if run.size < 0 else int(run.size * 2 + 0.5),
        "bold": run.bold is True,
        "style": run.style,
    }


def escape_text(text: str, hex_mode: bool = False) -> bytes:
    """RTF text escaping.  ``hex_mode`` prefers cp1252 ``\\'hh`` escapes
    for encodable high characters; otherwise (and always for characters
    outside cp1252) signed-decimal ``\\uN?`` Unicode escapes are emitted,
    one per UTF-16 code unit (RTF 1.9.1 §"Unicode RTF": values above
    32767 are expressed as negative numbers; the trailing ``?`` is the
    ``\\uc1`` fallback)."""
    out = bytearray()
    for ch in text:
        o = ord(ch)
        if ch == "\\":
            out += b"\\\\"
        elif ch == "{":
            out += b"\\{"
        elif ch == "}":
            out += b"\\}"
        elif ch == "\n":
            out += b"\\line "
        elif ch == "\t":
            out += b"\\tab "
        elif 0x20 <= o <= 0x7E:
            out.append(o)
        else:
            if hex_mode and o >= 0x80:
                try:
                    enc = ch.encode("cp1252")
                except UnicodeEncodeError:
                    enc = None
                if enc is not None and len(enc) == 1:
                    out += b"\\'%02x" % enc[0]
                    continue
            units = ch.encode("utf-16-be")
            for k in range(0, len(units), 2):
                cu = (units[k] << 8) | units[k + 1]
                n = cu - 65536 if cu > 32767 else cu
                out += b"\\u%d?" % n
    return bytes(out)


def build_rtf(
    items: list[dict],
    pict_figs: bool = True,
    hex_mode: bool = False,
    grouped: bool = False,
) -> bytes:
    """Ordered items → one RTF byte stream (see module docstring for the
    layout knobs)."""
    styles: list[str] = []
    for it in items:
        if it["type"] == "par" and it["style"] and it["style"] not in styles:
            styles.append(it["style"])
    sidx = {name: i + 1 for i, name in enumerate(styles)}

    head = bytearray(b"{\\rtf1\\ansi\\ansicpg1252\\deff0\\uc1")
    head += b"{\\fonttbl{\\f0\\froman Times New Roman;}}"
    head += b"{\\colortbl;\\red0\\green0\\blue0;}"
    head += b"{\\stylesheet{\\ql Normal;}"
    for name in styles:
        head += b"{\\s%d " % sidx[name] + escape_text(name, hex_mode) + b";}"
    head += b"}"
    head += b"{\\*\\generator wordscape rtfgen 1.0;}\n"

    body = bytearray()
    for it in items:
        t = it["type"]
        if t == "pb":
            body += b"\\page\n"
        elif t == "fig":
            ref = it["ref"]
            if pict_figs:
                body += (
                    b"{\\*\\shppict{\\pict{\\*\\blipuid "
                    + ref.encode("utf-8").hex().encode("ascii")
                    + b"}\\pngblip\\picw16\\pich16\\bliptag1 00ff00ff}}\n"
                )
            else:
                body += (
                    b'{\\field{\\*\\fldinst INCLUDEPICTURE "'
                    + escape_text(ref, hex_mode)
                    + b'" \\\\d}{\\fldrslt }}\n'
                )
        else:
            fmt = bytearray()
            if it["bold"]:
                fmt += b"\\b"
            fmt += b"\\fs%d" % it["hps"]
            pre = bytearray(b"\\pard\\plain")
            idx = sidx.get(it["style"])
            if idx is not None:
                pre += b"\\s%d" % idx
            txt = escape_text(it["text"], hex_mode)
            if grouped and txt:
                body += pre + b"{" + fmt + b" " + txt + b"}\\par\n"
            elif txt:
                body += pre + fmt + b" " + txt + b"\\par\n"
            else:
                body += pre + fmt + b"\\par\n"
    return bytes(head + body + b"}")


def render_doc(doc_id: str, spans: list[dict]) -> bytes:
    """One interleaved document → RTF bytes, layout picked by md5 bits
    (digest[-1]: pict vs field figures; digest[-2]: \\'hh vs \\uN?
    escapes; digest[-3]: grouped vs flat character formatting)."""
    digest = hashlib.md5(doc_id.encode()).digest()
    return build_rtf(
        sig.body_items(spans, par_item),
        pict_figs=digest[-1] % 2 == 0,
        hex_mode=digest[-2] % 2 == 0,
        grouped=digest[-3] % 2 == 0,
    )


def ensure_rtf(sf: float) -> str:
    """Materialize the (doc_id, content) parquet of RTF bytes."""
    return datagen.ensure_rendered(
        BASE_DIR / f"v{datagen.DATAGEN_VERSION}.1", sf, render_doc
    )
