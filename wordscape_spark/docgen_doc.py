"""Independent legacy ``.doc`` (Word 97 binary) renderer — the docgen twin
for ``operators/doc_legacy.py``.

Renders paragraph text into a REAL [MS-CFB] compound file containing a
[MS-DOC] WordDocument stream (FIB + text) and 0Table stream (CLX piece
table), so the reader is round-trip-tested against bytes it did not
produce-from-shared-code: this module builds the formats from the public
specs directly (header/DIFAT/FAT/miniFAT/directory; FIB field offsets;
Pcdt/PlcPcd with per-piece fCompressed), sharing nothing with the parser
but the span grammar.

Deliberate structure choices that exercise the reader's paths:

* text is split into up to three pieces, alternating cp1252-compressed and
  UTF-16LE encodings (piece seams land mid-paragraph);
* the CLX carries a leading Prc (property-modifier blob) the reader must
  skip before the Pcdt;
* streams under the 4096-byte cutoff live in the ministream (miniFAT
  chains); larger ones take regular FAT chains — both arise in practice
  (small docs: everything mini; big docs: WordDocument in the FAT).

Scope matches the reader: body paragraphs + page breaks (0x0C); control
chars in input text are normalized to spaces ([MS-DOC] text space rules).
Per-paragraph CHARACTER formatting (bold + font size) is written as real
CHPX FKPs ([MS-DOC] ChpxFkp 512-byte pages in the WordDocument stream,
addressed by a PlcfBteChpx in the table stream, sprmCFBold 0x0835 /
sprmCHps 0x4A43) so the reader's formatting recovery feeds the C10/C11
font heuristics on legacy docs.  Paragraph STYLES are written too (r6):
a real STSH stylesheet (fixed istds 0-14 with Normal/heading 1-9 in their
reserved slots, document styles appended from istd 15) plus PapxFkp pages
addressed by a PlcfbtePapx whose PapxInFkp carries the paragraph's istd —
so Word-97 builtin-styled headings reach the reader's C8 name path, the
fidelity the reference gets by converting through LibreOffice
(conversion_manager.py:161-223).
"""

from __future__ import annotations

import re
import struct

from wordscape_spark import datagen
from wordscape_spark import signal as sig

BASE_DIR = datagen.DATA_DIR / "doc_legacy"

_ENDOFCHAIN = 0xFFFFFFFE
_FREESECT = 0xFFFFFFFF
_FATSECT = 0xFFFFFFFD

_FIB_SIZE = 1472
_CTRL_RE = re.compile("[\x00-\x08\x0a-\x1f]")  # \t (0x09) is legal text


# ---------------------------------------------------------------------------
# [MS-DOC] WordDocument + 0Table streams
# ---------------------------------------------------------------------------


def _encode_pieces(text: str) -> tuple[bytes, bytes, int, list]:
    """(text bytes after the FIB, CLX bytes, ccpText, piece map).  Splits
    into ≤3 pieces with alternating cp1252/UTF-16 encodings where the text
    allows it; ccpText counts CPs (cp1252 bytes / UTF-16 code units).  The
    piece map carries ``(cp_start, cp_end, byte_off, bytes_per_cp)`` per
    piece — byte_off is the REAL WordDocument-stream offset of the piece's
    first character (what FKP rgfc entries address)."""
    n = len(text)
    if n >= 9:
        bounds = [0, n // 3, 2 * n // 3, n]
    else:
        bounds = [0, n]
    pieces = [text[bounds[i]:bounds[i + 1]] for i in range(len(bounds) - 1)]

    data = bytearray()
    cps = [0]
    pcds = []
    piece_map = []
    for i, piece in enumerate(pieces):
        compressed = False
        if i % 2 == 0:
            try:
                enc = piece.encode("cp1252")
                compressed = True
            except UnicodeEncodeError:
                enc = piece.encode("utf-16-le")
        else:
            enc = piece.encode("utf-16-le")
        offset = _FIB_SIZE + len(data)
        if compressed:
            fc = (offset * 2) | 0x40000000
            count = len(enc)
            bpc = 1
        else:
            fc = offset
            count = len(enc) // 2
            bpc = 2
        data += enc
        piece_map.append((cps[-1], cps[-1] + count, offset, bpc))
        cps.append(cps[-1] + count)
        pcds.append(struct.pack("<HIH", 0, fc, 0))

    plc = b"".join(struct.pack("<I", cp) for cp in cps) + b"".join(pcds)
    # a Prc the reader must skip (grpprl payload is opaque to text recovery)
    prc = b"\x01" + struct.pack("<H", 6) + b"\x00" * 6
    clx = prc + b"\x02" + struct.pack("<I", len(plc)) + plc
    return bytes(data), clx, cps[-1], piece_map


SPRM_CF_BOLD = 0x0835  # [MS-DOC] 2.6.1, 1-byte ToggleOperand
SPRM_C_HPS = 0x4A43    # [MS-DOC] 2.6.1, 2-byte half-point font size


def _chpx_blob(bold: bool | None, hps: int | None) -> bytes | None:
    """CHPX struct (cb byte + grpprl) for the paragraph's run properties."""
    grpprl = b""
    if bold is not None:
        grpprl += struct.pack("<HB", SPRM_CF_BOLD, 1 if bold else 0)
    if hps is not None:
        grpprl += struct.pack("<HH", SPRM_C_HPS, hps)
    if not grpprl:
        return None
    return bytes([len(grpprl)]) + grpprl


# fixed stylesheet slots ([MS-DOC] istdMaxFixedWhenSaved = 15): Normal at
# istd 0, heading 1-9 at istd 1-9, default paragraph font at 10, 11-14
# written as empty LPStd slots (cbStd = 0), document styles from istd 15
_FIXED_STYLES: tuple[str | None, ...] = (
    "normal",
    *(f"heading {i}" for i in range(1, 10)),
    "default paragraph font",
    None, None, None, None,
)
_HEADING_RE = re.compile(r"heading ([1-9])\Z")


def _istd_for(style: str | None, extras: dict[str, int]) -> int:
    """istd of a style name: fixed slot when reserved, else assigned from
    15 up in first-use order (recorded in ``extras``)."""
    if not style:
        return 0
    s = style.lower()
    if s == "normal":
        return 0
    m = _HEADING_RE.fullmatch(s)
    if m:
        return int(m.group(1))
    if s not in extras:
        extras[s] = len(_FIXED_STYLES) + len(extras)
    return extras[s]


def _build_stsh(extra_names: list[str]) -> bytes:
    """[MS-DOC] 2.9.271 STSH: LPStshi (cbStshi + STSHIF) followed by cstd
    LPStd entries.  Each written STD is the Word-97 shape the reader (and
    real parsers) walk: 10-byte StdfBase (cbSTDBaseInFile = 0x000A) then
    the Xstz name; cupx = 0 (no UPX formatting payloads — names are the
    classification surface, matching the reader's documented scope)."""
    names = list(_FIXED_STYLES) + list(extra_names)
    stshif = struct.pack(
        "<9H",
        len(names),          # cstd
        0x000A,              # cbSTDBaseInFile (Word-97 StdfBase)
        0x0001,              # fStdStylenamesWritten
        0x000F,              # stiMaxWhenSaved
        len(_FIXED_STYLES),  # istdMaxFixedWhenSaved
        0x0000,              # nVerBuiltInNamesWhenSaved
        0, 0, 0,             # rgftcStandardChpStsh
    )
    out = struct.pack("<H", len(stshif)) + stshif
    for istd, name in enumerate(names):
        if name is None:
            out += struct.pack("<H", 0)  # empty reserved slot
            continue
        raw = name.encode("utf-16-le")
        std = struct.pack(
            "<5H",
            istd if istd < len(_FIXED_STYLES) else 0x0FFE,  # sti (user)
            (0x0FFF << 4) | 0x0001,   # istdBase none | stk paragraph
            istd << 4,                # istdNext self | cupx 0
            10 + 2 + len(raw) + 2,    # bchUpe
            0x0000,                   # grfstd
        ) + struct.pack("<H", len(name)) + raw + b"\x00\x00"
        out += struct.pack("<H", len(std)) + std
        if len(std) % 2:  # LPStd entries are 2-byte aligned
            out += b"\x00"
    return out


def _build_papx_fkps(
    fc_runs: list[tuple[int, int, int]], first_pn: int
) -> tuple[bytes, bytes]:
    """(PapxFkp pages blob, PlcfbtePapx blob).  Each PapxFkp is a 512-byte
    page: rgfc[cpara+1] u32 paragraph boundaries, rgbx 13-byte BxPap
    entries (bOffset word-offset, 0 = no PAPX → istd 0 Normal), PapxInFkp
    structs packed downward (cb = 0 / cb' form: the GrpprlAndIstd is just
    the 2-byte istd); identical istds within a page share one struct."""
    pages: list[tuple[bytes, int, int]] = []
    i = 0
    while i < len(fc_runs):
        runs: list[tuple[int, int, bytes | None]] = []
        blobs: dict[bytes, int] = {}
        top = 511
        while i < len(fc_runs):
            istd = fc_runs[i][2]
            blob = (
                None if istd == 0
                else b"\x00\x01" + struct.pack("<H", istd)
            )
            new_top = top
            if blob is not None and blob not in blobs:
                new_top -= len(blob)
                if new_top % 2:  # bOffset addresses words
                    new_top -= 1
            n = len(runs) + 1
            if 4 * (n + 1) + 13 * n > new_top:
                break  # page full
            if blob is not None and blob not in blobs:
                top = new_top
                blobs[blob] = top
            runs.append((fc_runs[i][0], fc_runs[i][1], blob))
            i += 1
        page = bytearray(512)
        for r, (fc_s, _, _) in enumerate(runs):
            struct.pack_into("<I", page, 4 * r, fc_s)
        struct.pack_into("<I", page, 4 * len(runs), runs[-1][1])
        base = 4 * (len(runs) + 1)
        for r, (_, _, blob) in enumerate(runs):
            page[base + 13 * r] = 0 if blob is None else blobs[blob] // 2
        for blob, off in blobs.items():
            page[off:off + len(blob)] = blob
        page[511] = len(runs)
        pages.append((bytes(page), runs[0][0], runs[-1][1]))

    plc = b"".join(struct.pack("<I", p[1]) for p in pages)
    plc += struct.pack("<I", pages[-1][2])
    plc += b"".join(struct.pack("<I", first_pn + k) for k in range(len(pages)))
    return b"".join(p[0] for p in pages), plc


def _cp_ranges_to_fc_runs(
    styled: list[tuple[int, int, bytes]],
    piece_map: list,
    data_len: int,
) -> list[tuple[int, int, bytes | None]]:
    """Tile the WHOLE text byte range of the WordDocument stream with
    (fcStart, fcEnd, chpx|None) runs: styled cp ranges are intersected with
    the pieces (a styled paragraph crossing a piece seam splits into two fc
    runs), and the gaps become property-less runs so FKP rgfc coverage is
    contiguous per the spec."""
    fc_runs: list[tuple[int, int, bytes | None]] = []
    for cp_s, cp_e, byte_off, bpc in piece_map:
        pos = cp_s
        for s_s, s_e, blob in styled:
            lo, hi = max(s_s, cp_s), min(s_e, cp_e)
            if lo >= hi:
                continue
            if lo > pos:
                fc_runs.append(
                    (byte_off + bpc * (pos - cp_s),
                     byte_off + bpc * (lo - cp_s), None)
                )
            fc_runs.append(
                (byte_off + bpc * (lo - cp_s),
                 byte_off + bpc * (hi - cp_s), blob)
            )
            pos = hi
        if pos < cp_e:
            fc_runs.append(
                (byte_off + bpc * (pos - cp_s),
                 byte_off + bpc * (cp_e - cp_s), None)
            )
    return fc_runs


def _build_chpx_fkps(
    fc_runs: list[tuple[int, int, bytes | None]], first_pn: int
) -> tuple[bytes, bytes]:
    """(FKP pages blob, PlcfBteChpx blob).  Each ChpxFkp is a 512-byte page:
    rgfc[crun+1] u32s, rgb[crun] word-offsets (0 = no properties), CHPX
    structs packed downward from the crun byte at offset 511; identical
    CHPXs within a page are shared (the spec's layout allows it)."""
    pages: list[tuple[bytes, int, int]] = []  # (page, fc_start, fc_end)
    i = 0
    while i < len(fc_runs):
        runs: list[tuple[int, int, bytes | None]] = []
        blobs: dict[bytes, int] = {}
        chpx_top = 511  # CHPXs grow downward from here
        while i < len(fc_runs):
            _, _, blob = fc_runs[i]
            new_top = chpx_top
            if blob is not None and blob not in blobs:
                new_top -= len(blob)
                if new_top % 2:  # rgb addresses words
                    new_top -= 1
            n = len(runs) + 1
            if 4 * (n + 1) + n > new_top:
                break  # page full
            if blob is not None and blob not in blobs:
                chpx_top = new_top
                blobs[blob] = chpx_top
            runs.append(fc_runs[i])
            i += 1
        page = bytearray(512)
        for r, (fc_s, _, _) in enumerate(runs):
            struct.pack_into("<I", page, 4 * r, fc_s)
        struct.pack_into("<I", page, 4 * len(runs), runs[-1][1])
        base = 4 * (len(runs) + 1)
        for r, (_, _, blob) in enumerate(runs):
            page[base + r] = 0 if blob is None else blobs[blob] // 2
        for blob, off in blobs.items():
            page[off:off + len(blob)] = blob
        page[511] = len(runs)
        pages.append((bytes(page), runs[0][0], runs[-1][1]))

    plc = b"".join(struct.pack("<I", p[1]) for p in pages)
    plc += struct.pack("<I", pages[-1][2])
    plc += b"".join(struct.pack("<I", first_pn + k) for k in range(len(pages)))
    return b"".join(p[0] for p in pages), plc


def build_doc(
    items: list[str | dict | None], which_table: int = 0
) -> bytes:
    """Render paragraphs (``None`` = page break) into .doc bytes.

    An item may be a plain string (unformatted) or a dict
    ``{"text": str, "bold": bool|None, "hps": int|None, "style": str|None}``
    — bold/half-point size become a real CHPX run covering the paragraph
    INCLUDING its mark (Word formats the mark too, which is what lets an
    empty styled paragraph round-trip); a non-Normal style becomes a real
    STSH entry + PapxFkp istd run over the paragraph.

    ``which_table`` selects the table-stream name (0Table/1Table) and sets
    the FIB ``fWhichTblStm`` flag accordingly — Word emits both in the
    wild (the flag flips on incremental save)."""
    parts = []
    styled_cp: list[tuple[int, int, bytes]] = []
    par_istds: list[int] = []
    extras: dict[str, int] = {}
    cp = 0
    for item in items:
        if item is None:
            parts.append("\x0c")
            cp += 1
            continue
        if isinstance(item, dict):
            text = _CTRL_RE.sub(" ", item["text"]) + "\r"
            blob = _chpx_blob(item.get("bold"), item.get("hps"))
            istd = _istd_for(item.get("style"), extras)
        else:
            text = _CTRL_RE.sub(" ", item) + "\r"
            blob = None
            istd = 0
        if blob is not None:
            styled_cp.append((cp, cp + len(text), blob))
        par_istds.append(istd)
        parts.append(text)
        cp += len(text)
    text = "".join(parts)
    if not text.endswith("\r"):
        # the final mark Word always stores; a page break at the end of
        # the items list leaves an (unstyled) empty trailing paragraph
        text += "\r"
        par_istds.append(0)

    text_bytes, clx, ccp_text, piece_map = _encode_pieces(text)

    def fc_of(cpos: int) -> int:
        for cp_s, cp_e, byte_off, bpc in piece_map:
            if cp_s <= cpos < cp_e:
                return byte_off + bpc * (cpos - cp_s)
        cp_s, cp_e, byte_off, bpc = piece_map[-1]
        return byte_off + bpc * (cp_e - cp_s)

    # FKP pages live on 512-byte boundaries of the WordDocument stream:
    # [FIB | text | pad | CHPX pages | PAPX pages]
    word_len = _FIB_SIZE + len(text_bytes)
    pad = (-word_len) % 512
    next_pn = (word_len + pad) // 512
    pages_blob = b""
    plcfbte = b""
    papx_plc = b""
    if styled_cp:
        fc_runs = _cp_ranges_to_fc_runs(styled_cp, piece_map, len(text_bytes))
        chpx_pages, plcfbte = _build_chpx_fkps(fc_runs, next_pn)
        pages_blob += chpx_pages
        next_pn += len(chpx_pages) // 512
    if any(par_istds):
        # paragraph cp ranges: one per \r mark ('\x0c' page-break chars
        # merge into the FOLLOWING paragraph's range, as stored text does)
        ranges = []
        start = 0
        for idx, ch in enumerate(text):
            if ch == "\r":
                ranges.append((start, idx + 1))
                start = idx + 1
        par_fc_runs = [
            (fc_of(s), fc_of(e), istd)
            for (s, e), istd in zip(ranges, par_istds)
        ]
        papx_pages, papx_plc = _build_papx_fkps(par_fc_runs, next_pn)
        pages_blob += papx_pages
    fkp_bytes = (b"\x00" * pad + pages_blob) if pages_blob else b""

    fib = bytearray(_FIB_SIZE)
    struct.pack_into("<H", fib, 0x0000, 0xA5EC)   # wIdent
    struct.pack_into("<H", fib, 0x0002, 0x00C1)   # nFib (Word 97)
    struct.pack_into("<H", fib, 0x000A, 0x0200 if which_table else 0)
    struct.pack_into("<H", fib, 0x0020, 0x000E)   # csw
    struct.pack_into("<H", fib, 0x003E, 0x0016)   # cslw
    struct.pack_into("<I", fib, 0x0040, _FIB_SIZE + len(text_bytes))  # cbMac
    struct.pack_into("<I", fib, 0x004C, ccp_text)  # ccpText
    struct.pack_into("<H", fib, 0x0098, 0x005D)   # cbRgFcLcb (93 pairs)
    table_stream = clx
    if plcfbte:
        struct.pack_into("<I", fib, 0x00FA, len(table_stream))
        struct.pack_into("<I", fib, 0x00FE, len(plcfbte))
        table_stream += plcfbte
    if papx_plc:
        struct.pack_into("<I", fib, 0x0102, len(table_stream))
        struct.pack_into("<I", fib, 0x0106, len(papx_plc))
        table_stream += papx_plc
        stsh = _build_stsh(sorted(extras, key=extras.get))
        struct.pack_into("<I", fib, 0x00A2, len(table_stream))
        struct.pack_into("<I", fib, 0x00A6, len(stsh))
        table_stream += stsh
    struct.pack_into("<I", fib, 0x01A2, 0)        # fcClx (CLX at 0Table:0)
    struct.pack_into("<I", fib, 0x01A6, len(clx))  # lcbClx

    word_stream = bytes(fib) + text_bytes + fkp_bytes
    return _build_cfb(
        {"WordDocument": word_stream, f"{which_table}Table": table_stream}
    )


# ---------------------------------------------------------------------------
# [MS-CFB] compound file writer (v3, 512-byte sectors)
# ---------------------------------------------------------------------------


def _pad(b: bytes, size: int, fill: bytes = b"\x00") -> bytes:
    rem = len(b) % size
    return b if rem == 0 else b + fill * (size - rem)


def _dir_entry(
    name: str, etype: int, start: int, size: int,
    left: int = _FREESECT, right: int = _FREESECT, child: int = _FREESECT,
) -> bytes:
    raw = name.encode("utf-16-le") + b"\x00\x00"
    ent = bytearray(128)
    ent[:len(raw)] = raw
    struct.pack_into("<H", ent, 64, len(raw))
    ent[66] = etype
    ent[67] = 1  # black
    struct.pack_into("<I", ent, 68, left)
    struct.pack_into("<I", ent, 72, right)
    struct.pack_into("<I", ent, 76, child)
    struct.pack_into("<I", ent, 116, start)
    struct.pack_into("<Q", ent, 120, size)
    return bytes(ent)


def _build_cfb(streams: dict[str, bytes]) -> bytes:
    SEC, MINI, CUTOFF = 512, 64, 4096

    mini_names = [n for n, b in streams.items() if len(b) < CUTOFF]
    big_names = [n for n in streams if n not in mini_names]

    # ministream + miniFAT chains (sequential per stream)
    ministream = bytearray()
    minifat: list[int] = []
    mini_start: dict[str, int] = {}
    for name in mini_names:
        body = _pad(streams[name], MINI)
        first = len(minifat)
        n_m = len(body) // MINI
        mini_start[name] = first if n_m else _ENDOFCHAIN
        for i in range(n_m):
            minifat.append(first + i + 1 if i < n_m - 1 else _ENDOFCHAIN)
        ministream += body
    minifat_bytes = _pad(
        b"".join(struct.pack("<I", v) for v in minifat), SEC,
        struct.pack("<I", _FREESECT),
    )
    ministream = _pad(bytes(ministream), SEC)

    n_dir = 1          # 3 entries fit in one 512-byte sector (4 slots)
    n_minifat = len(minifat_bytes) // SEC if minifat else 0
    n_ministream = len(ministream) // SEC
    big_padded = {n: _pad(streams[n], SEC) for n in big_names}
    n_big = {n: len(b) // SEC for n, b in big_padded.items()}

    n_data = n_dir + n_minifat + n_ministream + sum(n_big.values())
    # FAT sectors cover data + the FAT itself (fixpoint)
    n_fat = 1
    while (n_data + n_fat) * 4 > n_fat * SEC:
        n_fat += 1
    if n_fat > 109:
        raise ValueError("document too large for header DIFAT")

    # sector layout: [FAT][dir][miniFAT][ministream][big streams...]
    first_dir = n_fat
    first_minifat = first_dir + n_dir if n_minifat else _ENDOFCHAIN
    first_ministream = n_fat + n_dir + n_minifat
    big_first: dict[str, int] = {}
    cursor = first_ministream + n_ministream
    for name in big_names:
        big_first[name] = cursor if n_big[name] else _ENDOFCHAIN
        cursor += n_big[name]
    total = cursor

    fat = [_FREESECT] * (n_fat * SEC // 4)
    for i in range(n_fat):
        fat[i] = _FATSECT
    fat[first_dir] = _ENDOFCHAIN

    def chain(first: int, count: int) -> None:
        for i in range(count):
            fat[first + i] = first + i + 1 if i < count - 1 else _ENDOFCHAIN

    if n_minifat:
        chain(first_minifat, n_minifat)
    if n_ministream:
        chain(first_ministream, n_ministream)
    for name in big_names:
        if n_big[name]:
            chain(big_first[name], n_big[name])

    # directory: Root → WordDocument (tree root) with 0Table as left child
    # (CFB orders children by (name length, name): "0Table" sorts first)
    starts = {}
    for name in streams:
        starts[name] = (
            mini_start[name] if name in mini_names else big_first[name]
        )
    order = list(streams)  # entry ids 1..n in dict order
    ids = {name: i + 1 for i, name in enumerate(order)}
    root = _dir_entry(
        "Root Entry", 5,
        first_ministream if n_ministream else _ENDOFCHAIN,
        len(ministream), child=ids[order[0]],
    )
    entries = [root]
    for i, name in enumerate(order):
        left = ids[order[i + 1]] if i + 1 < len(order) else _FREESECT
        entries.append(
            _dir_entry(name, 2, starts[name], len(streams[name]), left=left)
        )
    dir_bytes = _pad(b"".join(entries), SEC)

    header = bytearray(512)
    header[:8] = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"
    struct.pack_into("<H", header, 24, 0x003E)   # minor version
    struct.pack_into("<H", header, 26, 0x0003)   # major version 3
    struct.pack_into("<H", header, 28, 0xFFFE)   # little-endian
    struct.pack_into("<H", header, 30, 9)        # 512-byte sectors
    struct.pack_into("<H", header, 32, 6)        # 64-byte mini sectors
    struct.pack_into("<I", header, 44, n_fat)
    struct.pack_into("<I", header, 48, first_dir)
    struct.pack_into("<I", header, 56, CUTOFF)
    struct.pack_into(
        "<I", header, 60,
        first_minifat if n_minifat else _ENDOFCHAIN,
    )
    struct.pack_into("<I", header, 64, n_minifat)
    struct.pack_into("<I", header, 68, _ENDOFCHAIN)  # no DIFAT sectors
    struct.pack_into("<I", header, 72, 0)
    for i in range(109):
        struct.pack_into(
            "<I", header, 76 + 4 * i, i if i < n_fat else _FREESECT
        )

    body = bytearray(total * SEC)

    def put(sector: int, data: bytes) -> None:
        body[sector * SEC:sector * SEC + len(data)] = data

    put(0, b"".join(struct.pack("<I", v) for v in fat))
    put(first_dir, dir_bytes)
    if n_minifat:
        put(first_minifat, minifat_bytes)
    if n_ministream:
        put(first_ministream, ministream)
    for name in big_names:
        if n_big[name]:
            put(big_first[name], big_padded[name])

    return bytes(header) + bytes(body)


# ---------------------------------------------------------------------------
# interleaved table → paragraph items → binary ingestion table
# ---------------------------------------------------------------------------


def _par_item(run: sig.RunSignal) -> dict:
    """One body paragraph → .doc item: the first run's tri-state bold,
    half-points via floor(sz*2 + 0.5) (``None`` when unknown) and style.
    Python's banker's rounding diverges from SQL round() on exact halves,
    so the writer and the dual-dialect oracle share the floor form."""
    return {
        "type": "par",
        "text": run.text,
        "bold": run.bold,
        "hps": None if run.size < 0 else int(run.size * 2 + 0.5),
        "style": run.style,
    }


def doc_items(spans: list[dict]) -> list[dict | None]:
    """Body paragraphs (+ ``None`` page breaks) of one interleaved
    document: the writer emits one CHPX run per paragraph, so per-run
    fidelity inside a paragraph is docx-only scope; figures are not
    representable at .doc text level and are dropped (doc_legacy.py scope
    note)."""
    return [
        None if it["type"] == "pb" else it
        for it in sig.body_items(spans, _par_item)
        if it["type"] != "fig"
    ]


def ensure_doc(sf: float) -> str:
    """Materialize the (doc_id, content) parquet of .doc bytes."""
    # local format version: bump when the RENDERED BYTES change for the
    # same interleaved input (v2: CHPX bold/size formatting runs;
    # v3: STSH stylesheet + PAPX istd runs — paragraph style names)
    return datagen.ensure_rendered(
        BASE_DIR / f"v{datagen.DATAGEN_VERSION}.3",
        sf,
        lambda _doc_id, spans: build_doc(doc_items(spans)),
    )
