"""Entity taxonomy and builtin-style mapping tables.

Semantics mirror the reference's entity category set and builtin-style
handling (see /root/reference/app/settings/entities.py:1-95,
/root/reference/app/src/annotation/colorization/mappings.py:23-70 and
/root/reference/app/src/annotation/builtin_styles.py:1-378); the tables below
are our own Spark-first re-expression (category *names* are the public
taxonomy; we key everything on names/ids, never on render colors).
"""

from __future__ import annotations

# ---------------------------------------------------------------- categories
TITLE = "title"
HEADING = tuple(f"heading_{i}" for i in range(1, 10))  # heading_1..heading_9
TEXT = "text"
LIST = "list"
HEADER = "header"
FOOTER = "footer"
TABLE_HEADER = "table_header"
TABLE_HEADER_CELL = "table_header_cell"
TABLE = "table"
TABLE_CELL = "table_cell"
TOC = "toc"
BIBLIOGRAPHY = "bibliography"
QUOTE = "quote"
EQUATION = "equation"
FIGURE = "figure"
TABLE_CAPTION = "table_caption"
FOOTNOTE = "footnote"
ANNOTATION = "annotation"
FORM_FIELD = "form_field"
FORM_TAG = "form_tag"
TABLE_ROW = "table_row"
TABLE_COLUMN = "table_column"
TABLE_HEADER_ROW = "table_header_row"

# internal sentinel for uncolored whitespace runs (never emitted)
WHITESPACE = "__ws__"

# id assignment mirrors the reference taxonomy ids 0..30
ENTITY_NAMES: tuple[str, ...] = (
    TITLE,
    *HEADING,
    TEXT,
    LIST,
    HEADER,
    FOOTER,
    TABLE_HEADER,
    TABLE_HEADER_CELL,
    TABLE,
    TABLE_CELL,
    TOC,
    BIBLIOGRAPHY,
    QUOTE,
    EQUATION,
    FIGURE,
    TABLE_CAPTION,
    FOOTNOTE,
    ANNOTATION,
    FORM_FIELD,
    FORM_TAG,
    TABLE_ROW,
    TABLE_COLUMN,
    TABLE_HEADER_ROW,
)
NAME_TO_ID: dict[str, int] = {n: i for i, n in enumerate(ENTITY_NAMES)}
ID_TO_NAME: dict[int, str] = {i: n for n, i in NAME_TO_ID.items()}

# categories excluded from the quality-score numerator
# (ref: app/src/annotation/annotation_quality.py:11-15)
QUALITY_IGNORED = frozenset({TABLE_ROW, TABLE_CELL, TABLE_COLUMN})

# ------------------------------------------------------------ decision sources
SRC_BUILTIN = "builtin"
SRC_XML_PATTERN = "xml_pattern"
SRC_CONTENT_AWARE = "content_aware_heuristic"
SRC_HEURISTIC_USINGBUILTIN = "body_heading_heuristic_usingbuiltin"
SRC_HEURISTIC_BASE = "body_heading_heuristic_base"

# "builtin" sources for the annotation-quality score
# (ref: app/settings/annotation.py:17-20)
BUILTIN_SOURCES = frozenset({SRC_BUILTIN, SRC_XML_PATTERN})

# ------------------------------------------------------- builtin-style mapping
# style-name prefix -> category; evaluated in declaration order with
# last-match-wins, like the reference's mapping scan
# (ref: colorization/entities/paragraph.py:46-49).
STYLE_PREFIX_TO_CATEGORY: tuple[tuple[str, str], ...] = (
    ("body", TEXT),
    ("normal", TEXT),
    ("plain text", TEXT),
    ("no spacing", TEXT),
    ("default", TEXT),
    ("title", TITLE),
    ("heading 1", HEADING[0]),
    ("heading 2", HEADING[1]),
    ("heading 3", HEADING[2]),
    ("heading 4", HEADING[3]),
    ("heading 5", HEADING[4]),
    ("heading 6", HEADING[5]),
    ("heading 7", HEADING[6]),
    ("heading 8", HEADING[7]),
    ("heading 9", HEADING[8]),
    ("header", HEADER),
    ("footer", FOOTER),
    ("list", LIST),
    ("toc", TOC),
    ("bibliography", BIBLIOGRAPHY),
    ("quote", QUOTE),
    ("intense quote", QUOTE),
    ("caption", TABLE_CAPTION),
    ("footnote", FOOTNOTE),
    ("annotation", ANNOTATION),
)

# The set of style names we recognize as Word builtins.  A style whose name
# is NOT in this set falls through to the font heuristics; a style in the set
# but matching no prefix above is dropped ("unrecognized" in the reference,
# annotation/colorization/entities/paragraph.py:85-88).  This is the FULL
# public Word builtin paragraph/character style-name list (376 names, the
# WdBuiltinStyle / python-docx public API vocabulary; same coverage as the
# reference's annotation/builtin_styles.py:1-378) — a real .docx using e.g.
# "table of contents 2" or "envelope address" must take the builtin path,
# not silently fall to font heuristics.
BUILTIN_STYLES: frozenset[str] = frozenset(
    [
        "normal", "heading 1", "heading 2", "heading 3", "heading 4",
        "heading 5", "heading 6", "heading 7", "heading 8", "heading 9",
        "index 1", "index 2", "index 3", "index 4", "index 5", "index 6",
        "index 7", "index 8", "index 9", "toc 1", "toc 2", "toc 3", "toc 4",
        "toc 5", "toc 6", "toc 7", "toc 8", "toc 9", "normal indent",
        "footnote text", "annotation text", "header", "footer",
        "index heading", "caption", "table of figures", "envelope address",
        "envelope return", "footnote reference", "annotation reference",
        "line number", "page number", "endnote reference", "endnote text",
        "table of authorities", "macro", "toa heading", "list",
        "list bullet", "list number", "list 2", "list 3", "list 4", "list 5",
        "list bullet 2", "list bullet 3", "list bullet 4", "list bullet 5",
        "list number 2", "list number 3", "list number 4", "list number 5",
        "title", "closing", "signature", "default paragraph font",
        "body text", "body text indent", "list continue", "list continue 2",
        "list continue 3", "list continue 4", "list continue 5",
        "message header", "subtitle", "salutation", "date",
        "body text first indent", "body text first indent 2", "note heading",
        "body text 2", "body text 3", "body text indent 2",
        "body text indent 3", "block text", "hyperlink", "followedhyperlink",
        "strong", "emphasis", "document map", "plain text",
        "e-mail signature", "html top of form", "html bottom of form",
        "normal (web)", "html acronym", "html address", "html cite",
        "html code", "html definition", "html keyboard", "html preformatted",
        "html sample", "html typewriter", "html variable", "normal table",
        "annotation subject", "no list", "outline list 1", "outline list 2",
        "outline list 3", "table simple 1", "table simple 2",
        "table simple 3", "table classic 1", "table classic 2",
        "table classic 3", "table classic 4", "table colorful 1",
        "table colorful 2", "table colorful 3", "table columns 1",
        "table columns 2", "table columns 3", "table columns 4",
        "table columns 5", "table grid 1", "table grid 2", "table grid 3",
        "table grid 4", "table grid 5", "table grid 6", "table grid 7",
        "table grid 8", "table list 1", "table list 2", "table list 3",
        "table list 4", "table list 5", "table list 6", "table list 7",
        "table list 8", "table 3d effects 1", "table 3d effects 2",
        "table 3d effects 3", "table contemporary", "table elegant",
        "table professional", "table subtle 1", "table subtle 2",
        "table web 1", "table web 2", "table web 3", "balloon text",
        "table grid", "table theme", "placeholder text", "no spacing",
        "light shading", "light list", "light grid", "medium shading 1",
        "medium shading 2", "medium list 1", "medium list 2",
        "medium grid 1", "medium grid 2", "medium grid 3", "dark list",
        "colorful shading", "colorful list", "colorful grid",
        "light shading accent 1", "light list accent 1",
        "light grid accent 1", "medium shading 1 accent 1",
        "medium shading 2 accent 1", "medium list 1 accent 1", "revision",
        "list paragraph", "quote", "intense quote", "medium list 2 accent 1",
        "medium grid 1 accent 1", "medium grid 2 accent 1",
        "medium grid 3 accent 1", "dark list accent 1",
        "colorful shading accent 1", "colorful list accent 1",
        "colorful grid accent 1", "light shading accent 2",
        "light list accent 2", "light grid accent 2",
        "medium shading 1 accent 2", "medium shading 2 accent 2",
        "medium list 1 accent 2", "medium list 2 accent 2",
        "medium grid 1 accent 2", "medium grid 2 accent 2",
        "medium grid 3 accent 2", "dark list accent 2",
        "colorful shading accent 2", "colorful list accent 2",
        "colorful grid accent 2", "light shading accent 3",
        "light list accent 3", "light grid accent 3",
        "medium shading 1 accent 3", "medium shading 2 accent 3",
        "medium list 1 accent 3", "medium list 2 accent 3",
        "medium grid 1 accent 3", "medium grid 2 accent 3",
        "medium grid 3 accent 3", "dark list accent 3",
        "colorful shading accent 3", "colorful list accent 3",
        "colorful grid accent 3", "light shading accent 4",
        "light list accent 4", "light grid accent 4",
        "medium shading 1 accent 4", "medium shading 2 accent 4",
        "medium list 1 accent 4", "medium list 2 accent 4",
        "medium grid 1 accent 4", "medium grid 2 accent 4",
        "medium grid 3 accent 4", "dark list accent 4",
        "colorful shading accent 4", "colorful list accent 4",
        "colorful grid accent 4", "light shading accent 5",
        "light list accent 5", "light grid accent 5",
        "medium shading 1 accent 5", "medium shading 2 accent 5",
        "medium list 1 accent 5", "medium list 2 accent 5",
        "medium grid 1 accent 5", "medium grid 2 accent 5",
        "medium grid 3 accent 5", "dark list accent 5",
        "colorful shading accent 5", "colorful list accent 5",
        "colorful grid accent 5", "light shading accent 6",
        "light list accent 6", "light grid accent 6",
        "medium shading 1 accent 6", "medium shading 2 accent 6",
        "medium list 1 accent 6", "medium list 2 accent 6",
        "medium grid 1 accent 6", "medium grid 2 accent 6",
        "medium grid 3 accent 6", "dark list accent 6",
        "colorful shading accent 6", "colorful list accent 6",
        "colorful grid accent 6", "subtle emphasis", "intense emphasis",
        "subtle reference", "intense reference", "book title",
        "bibliography", "toc heading", "plain table 1", "plain table 2",
        "plain table 3", "plain table 4", "plain table 5",
        "grid table light", "grid table 1 light", "grid table 2",
        "grid table 3", "grid table 4", "grid table 5 dark",
        "grid table 6 colorful", "grid table 7 colorful",
        "grid table 1 light accent 1", "grid table 2 accent 1",
        "grid table 3 accent 1", "grid table 4 accent 1",
        "grid table 5 dark accent 1", "grid table 6 colorful accent 1",
        "grid table 7 colorful accent 1", "grid table 1 light accent 2",
        "grid table 2 accent 2", "grid table 3 accent 2",
        "grid table 4 accent 2", "grid table 5 dark accent 2",
        "grid table 6 colorful accent 2", "grid table 7 colorful accent 2",
        "grid table 1 light accent 3", "grid table 2 accent 3",
        "grid table 3 accent 3", "grid table 4 accent 3",
        "grid table 5 dark accent 3", "grid table 6 colorful accent 3",
        "grid table 7 colorful accent 3", "grid table 1 light accent 4",
        "grid table 2 accent 4", "grid table 3 accent 4",
        "grid table 4 accent 4", "grid table 5 dark accent 4",
        "grid table 6 colorful accent 4", "grid table 7 colorful accent 4",
        "grid table 1 light accent 5", "grid table 2 accent 5",
        "grid table 3 accent 5", "grid table 4 accent 5",
        "grid table 5 dark accent 5", "grid table 6 colorful accent 5",
        "grid table 7 colorful accent 5", "grid table 1 light accent 6",
        "grid table 2 accent 6", "grid table 3 accent 6",
        "grid table 4 accent 6", "grid table 5 dark accent 6",
        "grid table 6 colorful accent 6", "grid table 7 colorful accent 6",
        "list table 1 light", "list table 2", "list table 3", "list table 4",
        "list table 5 dark", "list table 6 colorful",
        "list table 7 colorful", "list table 1 light accent 1",
        "list table 2 accent 1", "list table 3 accent 1",
        "list table 4 accent 1", "list table 5 dark accent 1",
        "list table 6 colorful accent 1", "list table 7 colorful accent 1",
        "list table 1 light accent 2", "list table 2 accent 2",
        "list table 3 accent 2", "list table 4 accent 2",
        "list table 5 dark accent 2", "list table 6 colorful accent 2",
        "list table 7 colorful accent 2", "list table 1 light accent 3",
        "list table 2 accent 3", "list table 3 accent 3",
        "list table 4 accent 3", "list table 5 dark accent 3",
        "list table 6 colorful accent 3", "list table 7 colorful accent 3",
        "list table 1 light accent 4", "list table 2 accent 4",
        "list table 3 accent 4", "list table 4 accent 4",
        "list table 5 dark accent 4", "list table 6 colorful accent 4",
        "list table 7 colorful accent 4", "list table 1 light accent 5",
        "list table 2 accent 5", "list table 3 accent 5",
        "list table 4 accent 5", "list table 5 dark accent 5",
        "list table 6 colorful accent 5", "list table 7 colorful accent 5",
        "list table 1 light accent 6", "list table 2 accent 6",
        "list table 3 accent 6", "list table 4 accent 6",
        "list table 5 dark accent 6", "list table 6 colorful accent 6",
        "list table 7 colorful accent 6", "mention", "smart hyperlink",
        "hashtag", "unresolved mention", "smart link",    ]
)

# "subtitle" maps to no category on purpose (exercises the unrecognized-builtin
# drop path), same for "macro", "index N", "signature", ...

# ---------------------------------------------------- content-aware constants
# (ref: app/settings/content_awareness.py:1-21)
FORM_FIELD_SYMBOLS = ("_", ".", "…")
QUOTE_SYMBOLS = ('"', "'")
NUMBERING_SYMBOLS = (
    "-", "•", "➢", "◦", "▪", "▫", "●",
    "○", "■", "□", "▶", "⁃", "◆", "◇",
    "◐", "◑",
)
NUMBERING_FOLLOWERS = (".", ":", ")")


from functools import lru_cache as _lru_cache


@_lru_cache(maxsize=4096)
def map_builtin_style(style_lower: str) -> str | None:
    """Last-match prefix mapping of a lowercase builtin style name."""
    found = None
    for prefix, cat in STYLE_PREFIX_TO_CATEGORY:
        if style_lower.startswith(prefix):
            found = cat
    return found
