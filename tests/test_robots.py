"""robots.txt gate (operators/robots.py): group selection, wildcard/
anchor matching, longest-match precedence must match an
independent pure-Python RFC 9309 implementation; the broadcast verdict
plan must never shuffle the URL corpus."""

import re

import pytest

from wordscape_spark.operators import robots

RULES = [
    # a.example publishes BOTH a wordscape group and a '*' group — only
    # the wordscape group may apply to us (so /zh/ is NOT blocked here)
    ("a.example", "wordscape", "disallow", "/de/"),
    ("a.example", "wordscape", "allow", "/de/public/"),
    ("a.example", "wordscape", "disallow", "/es/*.docx$"),
    ("a.example", "*", "disallow", "/zh/"),
    # b.example: '*' group only
    ("b.example", "*", "disallow", "/zh/"),
    ("b.example", "*", "disallow", "/tmp*"),
    # tie: allow and disallow, same pattern length → allow wins
    ("b.example", "*", "allow", "/x/data"),
    ("b.example", "*", "disallow", "/x/data"),
    # d.example: empty disallow = no restriction
    ("d.example", "*", "disallow", ""),
    # e.example: regex metacharacters in a pattern must match literally
    ("e.example", "*", "disallow", "/a+b/(x)"),
]

URLS = [
    "https://a.example/de/secret.docx",
    "https://a.example/de/public/ok.docx",
    "https://a.example/es/doc.docx",
    "https://a.example/es/doc.docx?x=1",
    "https://a.example/zh/doc.docx",
    "https://a.example/en/doc.docx",
    "https://b.example/zh/doc.docx",
    "https://b.example/tmp/scratch",
    "https://b.example/x/data",
    "https://b.example/fine",
    "https://c.example/anything",
    "https://d.example/anything",
    "https://e.example/a+b/(x)/y",
    "https://e.example/aab/x",
    "https://f.example",  # no path at all → '/'
]


def _match(pattern: str, path: str) -> bool:
    anchored = pattern.endswith("$")
    body = pattern[:-1] if anchored else pattern
    rx = "^" + ".*".join(re.escape(p) for p in body.split("*"))
    if anchored:
        rx += "$"
    return re.search(rx, path) is not None


def _py_allowed(url: str, agent: str = "wordscape") -> bool:
    m = re.match(r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/]+)(/.*)?$", url)
    host, path = m.group(1), m.group(2) or "/"
    host_rules = [r for r in RULES if r[0] == host and r[3] != ""]
    grp = [r for r in host_rules if r[1] == agent]
    if not grp:
        grp = [r for r in host_rules if r[1] == "*"]
    hits = [
        (len(pat), rule == "allow")
        for _, _, rule, pat in grp
        if _match(pat, path)
    ]
    return max(hits)[1] if hits else True


@pytest.fixture(scope="module")
def rules_df(spark):
    return spark.createDataFrame(
        RULES, "host string, agent string, rule string, pattern string"
    )


@pytest.fixture(scope="module")
def urls_df(spark):
    return spark.createDataFrame([(u,) for u in URLS], "url string")


def test_verdicts_match_python_rfc(urls_df, rules_df):
    got = {
        r["url"]: r["allowed"]
        for r in robots.robots_verdicts(urls_df, rules_df).collect()
    }
    assert len(got) == len(URLS)
    for u in URLS:
        assert got[u] == _py_allowed(u), u


def test_semantics_pins(urls_df, rules_df):
    """The RFC behaviors the fixture was built to exercise, pinned
    explicitly so a fixture edit can't silently drop one."""
    got = {
        r["url"]: r["allowed"]
        for r in robots.robots_verdicts(urls_df, rules_df).collect()
    }
    # specific group shadows '*': /zh/ block does NOT apply on a.example
    assert got["https://a.example/zh/doc.docx"] is True
    assert got["https://b.example/zh/doc.docx"] is False
    # longest match: allow /de/public/ overrides disallow /de/
    assert got["https://a.example/de/secret.docx"] is False
    assert got["https://a.example/de/public/ok.docx"] is True
    # '$' anchor: bare .docx path blocked, query-string variant not
    assert got["https://a.example/es/doc.docx"] is False
    assert got["https://a.example/es/doc.docx?x=1"] is True
    # midline '*', tie→allow, unruled host, empty disallow, metachars
    assert got["https://b.example/tmp/scratch"] is False
    assert got["https://b.example/x/data"] is True
    assert got["https://c.example/anything"] is True
    assert got["https://d.example/anything"] is True
    assert got["https://e.example/a+b/(x)/y"] is False
    assert got["https://e.example/aab/x"] is True
    assert got["https://f.example"] is True


def test_gate_keeps_only_allowed(urls_df, rules_df):
    kept = {r["url"] for r in robots.robots_gate(urls_df, rules_df).collect()}
    assert kept == {u for u in URLS if _py_allowed(u)}


def test_broadcast_plan_never_shuffles_urls(urls_df, rules_df):
    plan = (
        robots.robots_verdicts(urls_df, rules_df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "host" in line, line  # only the rules fold/anti-join
