"""Hand-pinned fixtures for the classification semantics.

Each case encodes an input paragraph/element and the exact expected output
span sequence, mirroring the reference behavior it cites.  These pin the
semantics; the Spark⇔oracle test then guarantees the distributed pipeline
reproduces them.
"""

import pytest

from wordscape_spark import signal as sig
from wordscape_spark import taxonomy as tax
from wordscape_spark.config import DEFAULT_CONFIG, ExtractConfig
from wordscape_spark.core import classify as C

CFG = ExtractConfig(min_text_chars=0)


def run(spans, cfg=CFG):
    spans = [(k, t, m, i) for i, (k, t, m) in enumerate(spans)]
    return C.classify_document(spans, cfg)


def par(texts, style="normal", p=0, **kw):
    if isinstance(texts, str):
        texts = [texts]
    run_props = kw.pop("run_props", [{} for _ in texts])
    out = []
    for text, props in zip(texts, run_props):
        out.append(
            (
                sig.encode_run(
                    par=p, style=style,
                    par_size=kw.get("par_size", sig.FONT_UNKNOWN),
                    par_bold=kw.get("par_bold"), par_italic=kw.get("par_italic"),
                    size=props.get("size", sig.FONT_UNKNOWN),
                    bold=props.get("bold"), italic=props.get("italic"),
                    underline=props.get("underline", False),
                    math=kw.get("math", False),
                    numbered=kw.get("numbered", False),
                ),
                text,
                None,
            )
        )
    return out


def kinds(res):
    return [(s[0], s[1]) for s in res.spans]


# ------------------------------------------------------------- builtin styles


def test_builtin_heading_style():
    res = run(par("Hello World", style="heading 2"))
    assert kinds(res) == [("heading_2", "Hello World")]
    assert res.quality == 1.0  # single builtin decision


def test_builtin_prefix_variants():
    res = run(
        par("Q", style="intense quote", p=0)
        + par("C", style="caption", p=1)
        + par("F", style="footnote text", p=2)
        + par("T", style="toc 3", p=3)
    )
    assert kinds(res) == [
        ("quote", "Q"),
        ("table_caption", "C"),
        ("footnote", "F"),
        ("toc", "T"),
    ]


def test_unrecognized_builtin_dropped():
    res = run(par("mystery text", style="macro"))
    assert res.spans == []


def test_empty_paragraph_skipped():
    res = run(par("", style="normal") + par("\t\n", style="normal", p=1))
    assert res.spans == []


def test_whitespace_paragraph_no_span():
    res = run(par("   ", style="normal"))
    assert res.spans == []


def test_math_override():
    res = run(par("x = y + 1", style="normal", math=True))
    assert kinds(res) == [("equation", "x = y + 1")]


def test_numbered_builtin_override():
    res = run(par("first item", style="normal", numbered=True))
    assert kinds(res) == [("list", "first item")]


def test_numbered_custom_style():
    res = run(par("first item", style="weird", numbered=True))
    assert kinds(res) == [("list", "first item")]


# --------------------------------------------------------- font heuristics


def _sized(text, size, style="custom", p=0, bold=None, italic=None):
    return par(text, style=style, p=p, par_size=size, par_bold=bold,
               par_italic=italic)


def test_font_ranking_title_heading_body():
    spans = (
        _sized("Big Title", 24.0, p=0)
        + _sized("Section", 16.0, p=1)
        + _sized("body text " * 10, 11.0, p=2)
        + _sized("Sub", 14.0, p=3)
        + _sized("more body " * 10, 11.0, p=4)
    )
    res = run(spans)
    assert kinds(res) == [
        ("title", "Big Title"),
        ("heading_1", "Section"),
        ("text", "body text " * 10),
        ("heading_2", "Sub"),
        ("text", "more body " * 10),
    ]


def test_title_requires_single_appearance():
    # largest font appears twice → no title, becomes heading_1
    spans = (
        _sized("One", 24.0, p=0)
        + _sized("Two", 24.0, p=1)
        + _sized("body " * 20, 11.0, p=2)
    )
    res = run(spans)
    assert kinds(res)[0] == ("heading_1", "One")
    assert kinds(res)[1] == ("heading_1", "Two")


def test_single_font_all_body():
    res = run(_sized("aaa", 11.0, p=0) + _sized("bbb", 11.0, p=1))
    assert kinds(res) == [("text", "aaa"), ("text", "bbb")]


def test_bold_variant_ranks_before_normal():
    # same size: b sorts before n; 11.0b appears once → takes the title slot
    spans = (
        _sized("HEAD", 11.0, p=0, bold=True)
        + _sized("body one " * 5, 11.0, p=1)
        + _sized("body two " * 5, 11.0, p=2)
    )
    res = run(spans)
    assert kinds(res)[0] == ("title", "HEAD")

    # with the bold font in two paragraphs it is no longer unique → heading_1
    spans2 = (
        _sized("HEAD", 11.0, p=0, bold=True)
        + _sized("HEAD2", 11.0, p=1, bold=True)
        + _sized("body one " * 5, 11.0, p=2)
        + _sized("body two " * 5, 11.0, p=3)
    )
    res2 = run(spans2)
    assert kinds(res2)[0] == ("heading_1", "HEAD")


def test_heading_run_must_start_paragraph():
    # heading-sized run mid-paragraph is demoted to body
    spans = (
        _sized("Header", 16.0, p=0)
        + _sized("body " * 30, 11.0, p=1)
        + par(
            ["start body ", "BIGRUN"],
            style="custom", p=2, par_size=11.0,
            run_props=[{}, {"size": 16.0}],
        )
    )
    res = run(spans)
    assert kinds(res)[-1] == ("text", "start body BIGRUN")


def test_heading_run_at_start_creates_span():
    spans = (
        _sized("Header", 16.0, p=0)
        + _sized("body " * 30, 11.0, p=1)
        + par(
            ["Intro", " rest of body text here"],
            style="custom", p=2, par_size=11.0,
            run_props=[{"size": 16.0}, {}],
        )
    )
    res = run(spans)
    assert ("heading_1", "Intro") in kinds(res)
    assert ("text", " rest of body text here") in kinds(res)


def test_max_heading_len_demotes_paragraph():
    long_heading = "H" * 200  # over max_heading_len=150
    spans = (
        _sized(long_heading, 16.0, p=0)
        + _sized("body " * 100, 11.0, p=1)  # body font must stay most common
        + _sized("also heading", 16.0, p=2)
    )
    res = run(spans)
    assert kinds(res)[0] == ("text", long_heading)
    # short heading par elsewhere is unaffected
    assert kinds(res)[-1] == ("heading_1", "also heading")


def test_unknown_font_falls_to_body():
    spans = _sized("no info here", sig.FONT_UNKNOWN, p=0)
    res = run(spans)
    assert kinds(res) == [("text", "no info here")]


# ------------------------------------------------- builtin-heading tracker


def test_builtin_heading_tracker_exact_match():
    spans = (
        par("Section One", style="heading 1", p=0, par_size=16.0, par_bold=True)
        + _sized("body " * 30, 11.0, p=1, style="normal")
        + _sized("Custom Heading", 16.0, p=2, bold=True)  # exact h1 fontprop
        + _sized("custom body text", 11.0, p=3)  # not in map → text
    )
    res = run(spans)
    assert kinds(res) == [
        ("heading_1", "Section One"),
        ("text", "body " * 30),
        ("heading_1", "Custom Heading"),
        ("text", "custom body text"),
    ]


def test_content_list_suppressed_under_tracker():
    spans = (
        par("Head", style="heading 1", p=0, par_size=16.0, par_bold=True)
        + _sized("body " * 30, 11.0, p=1)
        + _sized("- bullet item", 11.0, p=2)
    )
    res = run(spans)
    # list override is suppressed when builtin headings exist
    assert kinds(res)[-1] == ("text", "- bullet item")


def test_content_list_applies_without_tracker():
    spans = (
        _sized("body " * 30, 11.0, p=0)
        + _sized("- bullet item", 11.0, p=1)
    )
    res = run(spans)
    assert kinds(res)[-1] == ("list", "- bullet item")


# ------------------------------------------------------- content awareness


def test_form_field_split():
    spans = par(["Name: ", "______"], p=0)
    res = run(spans)
    assert kinds(res) == [("text", "Name: "), ("form_field", "______")]


def test_form_field_across_seam():
    # field too short in each run, long enough combined
    spans = par(["fill __", "__ here"], p=0)
    res = run(spans)
    got = kinds(res)
    assert ("form_field", "____") in got
    assert "".join(t for _, t in got) == "fill ____ here"


def test_underlined_whitespace_is_field():
    # the field is *detected* (content-aware handler fires) but whitespace
    # runs are never shaded (colorization_handler.py:286), so no form_field
    # span is emitted — the whole par stays one text span.
    spans = par(
        ["Date:", "      "],
        p=0,
        run_props=[{}, {"underline": True}],
    )
    res = run(spans)
    assert kinds(res) == [("text", "Date:      ")]

    # a non-whitespace field in the same paragraph DOES split out
    spans2 = par(
        ["Date:", "____", " end"],
        p=0,
        run_props=[{}, {"underline": True}, {}],
    )
    res2 = run(spans2)
    assert kinds(res2) == [
        ("text", "Date:"),
        ("form_field", "____"),
        ("text", " end"),
    ]


def test_short_field_not_split():
    spans = par("a __ b", p=0)  # 2 underscores < min 4
    res = run(spans)
    assert kinds(res) == [("text", "a __ b")]


def test_quote_detection():
    res = run(par('"to be or not to be"', p=0))
    assert kinds(res) == [("quote", '"to be or not to be"')]


def test_quote_requires_matching_ends():
    res = run(par('"unbalanced', p=0))
    assert kinds(res) == [("text", '"unbalanced')]


def test_list_numbering_variants():
    res = run(
        par("1. first", p=0)
        + par("a) second", p=1)
        + par("• third", p=2)
    )
    assert kinds(res) == [
        ("list", "1. first"),
        ("list", "a) second"),
        ("list", "• third"),
    ]


def test_form_takes_priority_over_quote():
    res = run(par('"quoted ____ form"', p=0))
    assert any(k == "form_field" for k, _ in kinds(res))
    assert not any(k == "quote" for k, _ in kinds(res))


# ------------------------------------------------------- structural elements


def test_table_cells_and_serialization():
    spans = [
        (sig.encode_cell(0, 0, 0, True), "h1", None),
        (sig.encode_cell(0, 0, 1, True), "h2", None),
        (sig.encode_cell(0, 1, 0, False), "a", None),
        (sig.encode_cell(0, 1, 1, False), "b", None),
    ]
    res = run(spans)
    assert kinds(res) == [
        ("table_header_cell", "h1"),
        ("table_header_cell", "h2"),
        ("table_cell", "a"),
        ("table_cell", "b"),
    ]
    assert res.text == "h1\th2\na\tb"
    assert res.counts["table"] == 1
    assert res.counts["table_header_row"] == 1
    assert res.counts["table_row"] == 1
    assert res.counts["table_column"] == 2
    assert res.counts["table_header"] == 1


def test_figure_media_ref_preserved():
    res = run([("fig", "", "media/image1.png")])
    assert res.spans == [("figure", "", "media/image1.png", 0)]


def test_header_footer_textbox_sdt():
    spans = [
        ("hp;p=0", "Company header", None),
        ("fp;p=0", "page 3", None),
        ("xp;p=0", "boxed text", None),
        (sig.encode_sdt("Table of Contents"), "toc entries", None),
        (sig.encode_sdt("bibliography list"), "refs", None),
    ]
    res = run(spans)
    assert kinds(res) == [
        ("header", "Company header"),
        ("footer", "page 3"),
        ("text", "boxed text"),
        ("toc", "toc entries"),
        ("bibliography", "refs"),
    ]


def test_sdt_form_field_and_tag():
    spans = [
        (sig.encode_sdt("", form="tag"), "Name", None),
        (sig.encode_sdt("", form="field"), "Enter text", None),
        (sig.encode_sdt("", form="field"), "  ", None),  # ws skipped
    ]
    res = run(spans)
    assert kinds(res) == [
        ("form_tag", "Name"),
        ("form_field", "Enter text"),
    ]
    # both decisions are xml_pattern → builtin for the quality score
    assert res.builtin_props["form_tag"] == 1.0
    assert res.builtin_props["form_field"] == 1.0


def test_body_text_serialization_order():
    spans = (
        par("first", p=0)
        + [(sig.encode_cell(0, 0, 0, False), "cell", None)]
        + par("second", p=1)
        + [("hp;p=0", "not in body text", None)]
    )
    res = run(spans)
    assert res.text == "first\ncell\nsecond"


# ----------------------------------------------------------------- gates


def test_min_text_gate():
    res = run(par("short", p=0), cfg=ExtractConfig(min_text_chars=200))
    assert not res.ok and res.reject_reason == "min_text"


def test_max_spans_gate():
    spans = par("x" * 300, p=0)
    res = run(spans, cfg=ExtractConfig(min_text_chars=0, max_doc_spans=0))
    assert not res.ok and res.reject_reason == "too_many_spans"


# ----------------------------------------------------------------- quality


def test_quality_score_mixed():
    spans = (
        par("builtin heading", style="heading 1", p=0)  # builtin
        + _sized("heuristic body text", 11.0, p=1)  # heuristic
    )
    res = run(spans)
    # heading_1: builtin prop 1.0; text: prop 0.0 → score = 1/2
    assert res.quality == pytest.approx(0.5)
    assert res.builtin_props["heading_1"] == 1.0
    assert res.builtin_props["text"] == 0.0


def test_text_metrics():
    m = C.text_metrics("ab 12 cd!")
    assert m["num_chars"] == 9
    assert m["num_words"] == 3  # punctuation deleted before split
    assert m["num_alph_chars"] == 4
    assert m["num_numeric_chars"] == 2
    assert m["num_alphnum_chars"] == 6
    assert m["alnum_prop"] == pytest.approx(6 / 9)
    assert m["alph_to_num_ratio"] == pytest.approx(2.0)


def test_nested_table_hand_oracle():
    """Nested table (pt field): classified as its own table with its own
    structural counts, excluded from document text (ref: recursion in
    table_colorization_handler.py:165-178; _Cell.text covers only the
    cell's paragraphs)."""
    spans = [
        (sig.encode_run(0, "normal", par_size=11.0), "x" * 250, None, 0),
        # parent table: 2 rows x 2 cols, header row
        (sig.encode_cell(0, 0, 0, header=True), "h1", None, 1),
        (sig.encode_cell(0, 0, 1, header=True), "h2", None, 2),
        (sig.encode_cell(0, 1, 0, header=False), "a", None, 3),
        (sig.encode_cell(0, 1, 1, header=False), "b", None, 4),
        # nested table hoisted after parent: 1 row x 2 cols inside table 0
        (sig.encode_cell(1, 0, 0, header=False, parent=0), "n1", None, 5),
        (sig.encode_cell(1, 0, 1, header=False, parent=0), "n2", None, 6),
    ]
    res = C.classify_document(spans, DEFAULT_CONFIG)
    assert res.ok
    # hand-computed counts: 2 tables, parent contributes 1 header row +
    # 1 body row + 2 cols + table_header, nested contributes 1 body row +
    # 2 cols; cells: 2 header cells + 2 + 2 body cells
    assert res.counts["table"] == 2
    assert res.counts["table_header"] == 1
    assert res.counts["table_header_row"] == 1
    assert res.counts["table_row"] == 2          # parent body row + nested row
    assert res.counts["table_column"] == 4       # 2 + 2
    assert res.counts["table_header_cell"] == 2
    assert res.counts["table_cell"] == 4
    # nested cells ARE classified spans, in hoisted order
    kinds = [k for k, _t, _m, _o in res.spans]
    assert kinds == [
        "text",
        "table_header_cell", "table_header_cell", "table_cell", "table_cell",
        "table_cell", "table_cell",
    ]
    # ...but nested text never reaches the document text
    assert res.text == "x" * 250 + "\nh1\th2\na\tb"


def test_page_model_hand_oracle():
    """Explicit page breaks: spans carry 1-based pages; per-page records
    cover every physical page including trailing empties."""
    spans = [
        (sig.encode_run(0, "normal", par_size=11.0), "x" * 250, None, 0),
        ("pb", "", None, 1),
        (sig.encode_run(1, "title", par_size=26.0), "second page title", None, 2),
        ("fig", "", "media/i.png", 3),
        ("pb", "", None, 4),  # trailing blank page
    ]
    res = C.classify_document(spans, DEFAULT_CONFIG)
    assert res.ok
    assert res.span_pages == [1, 2, 2]
    assert [p for p, _t, _c in res.pages] == [1, 2, 3]
    assert res.pages[0][1] == "x" * 250
    assert res.pages[1][1] == "second page title"
    assert res.pages[2] == (3, "", {})
    assert res.pages[1][2] == {"title": 1, "figure": 1}


def test_text_metrics_batch_parity_and_fallbacks(monkeypatch):
    """The vectorized batch form must equal the scalar reference form
    element-for-element, including the unicode corners its lookup tables
    must inherit (Arabic-Indic digits are \\d, superscripts are not,
    NBSP/ideographic space split words), lone surrogates, the per-text
    astral fallback, and sub-batch boundaries inside a batch."""
    import random

    texts = [
        "", " ", "\n\t ", "a", "1", "_", "__a__1__", "a,b", "a, b", ",,,",
        "héllo wörld ², ٣٤٥ ١٢٣", "ｆｕｌｌｗｉｄｔｈ１２３", "ΑΒΓ αβγ",
        "混合中文 text with spaces", "tab\tsep\nnewline", "a b",
        "½¼¾", "Ⅷ Ⅸ", "¹²³ vs 123", "  lead", "trail  ", "  line sep",
        "कंप्यूटर", "עברית 123", "ascii only text 42!",
        "👍 emoji doc", "\U00010400 deseret",  # astral → scalar fallback
    ]
    random.seed(11)
    alphabet = "ab1 ,.!ü№\t\n½٣Α_"
    texts += [
        "".join(random.choice(alphabet) for _ in range(random.randint(0, 60)))
        for _ in range(150)
    ]
    assert C.text_metrics_batch(texts) == [C.text_metrics(t) for t in texts]
    # only the two astral texts take the scalar form
    calls = []
    scalar = C.text_metrics
    monkeypatch.setattr(
        C, "text_metrics", lambda t: calls.append(t) or scalar(t)
    )
    C.text_metrics_batch(texts)
    assert calls == ["👍 emoji doc", "\U00010400 deseret"]
    monkeypatch.setattr(C, "text_metrics", scalar)
    # lone surrogates are ordinary BMP entries of the tables
    bad = ["ok", "\ud800 lone surrogate", "a\udfff\ud800 b"]
    assert C.text_metrics_batch(bad) == [C.text_metrics(t) for t in bad]
    # without the astral texts the batch takes the vectorized path, also
    # when the char cap splits it into sub-batches of a few texts each
    bmp = [t for t in texts if all(ord(c) < 0x10000 for c in t)]
    assert len(bmp) == len(texts) - 2
    assert C.text_metrics_batch(bmp) == [C.text_metrics(t) for t in bmp]
    monkeypatch.setattr(C, "_TM_BATCH_CHAR_CAP", 40)
    for batch in (bmp, texts):
        assert C.text_metrics_batch(batch) == [
            C.text_metrics(t) for t in batch
        ]


def test_parse_run_rest_cache_parity():
    """parse_run's two-level kind cache (full kind, and kind with the
    per-paragraph p= field stripped) must agree with the uncached parser
    for every field, across repeated/permuted kinds, non-canonical field
    orders, and the malformed-p error path."""
    import random

    import wordscape_spark.signal as sig

    random.seed(3)
    kinds = []
    for _ in range(200):
        kinds.append(
            sig.encode_run(
                par=random.randint(0, 40),
                style=random.choice(["", "normal", "heading 1", "título"]),
                par_size=random.choice([-1.0, 10.0, 11.5]),
                par_bold=random.choice([None, True, False]),
                par_italic=random.choice([None, True, False]),
                size=random.choice([-1.0, 9.0, 24.0]),
                bold=random.choice([None, True, False]),
                italic=random.choice([None, True, False]),
                underline=random.random() < 0.2,
                math=random.random() < 0.1,
                numbered=random.random() < 0.1,
            )
        )
    kinds.append("r;p=7")                      # no rest after p
    kinds.append("r;s=odd;p=3")                # p not the first field
    sig._RUN_KIND_CACHE.clear()
    sig._RUN_REST_CACHE.clear()
    for kind in kinds * 2:  # second round exercises the caches
        assert sig.parse_run(kind, "t") == sig._parse_run_uncached(kind, "t")
    # malformed paragraph index must still raise (→ error:ValueError reject)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        sig.parse_run("r;p=xy;s=a;psz=1;pb=-;pi=-;sz=1;b=-;i=-;u=0;m=0;n=0", "t")
