"""robots.txt compliance gate (RFC 9309, the Robots Exclusion
Protocol): decide per URL whether a crawler may fetch it, from a rules
table of (host, agent, rule, pattern) lines — the politeness step a
stage-A/stage-B acquisition pipeline runs between URL harvesting
(sources/wat.py) and fetching (sources/http.py).

Semantics implemented (RFC 9309 §2):

- **group selection** (§2.2.1): if a host publishes a group for THIS
  crawler's user-agent token, only that group applies; otherwise the
  ``*`` group does; a host with neither allows everything.
- **rule matching** (§2.2.2): patterns match the URL path from its
  first octet; ``*`` matches any span, a trailing ``$`` anchors the
  end; an empty pattern imposes no restriction (dropped in rule prep).
- **precedence** (§2.2.2): the longest matching pattern wins; if an
  allow and a disallow tie, allow wins.  No matching rule → allowed.

Scale shape: rule prep shuffles only the rules table (≤ a few rules per
host).  The verdict path folds each host's group into one row (a
``collect_list``, so the folded row grows with the host's rule count),
broadcasts the folded table, and evaluates longest-match as a PER-ROW
expression (``filter`` + ``array_max`` over the rule array — struct
comparison is lexicographic, so ``(len, is_allow)`` encodes the RFC
precedence) — the URL corpus itself never shuffles.

Beyond-reference operator (acquisition battery): the reference fetches
CommonCrawl-hosted bodies and never re-crawls origins, so it has no
robots step; this is the published protocol its users must apply the
moment the same pipeline points at live origins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

DEFAULT_AGENT = "wordscape"

#: Java-regex metacharacters escaped when compiling a robots pattern;
#: '*' is deliberately NOT in the class (it becomes '.*' afterwards).
#: ']' and '[' are backslash-escaped INSIDE the class — the POSIX
#: "']' first needs no escape" trick is rejected by Java (and '[' in a
#: Java class opens a nested class), so both get explicit escapes that
#: RE2 (the DuckDB oracle dialect) also accepts.  Backslashes are
#: doubled TWICE here — once for the Java regex, once for Spark SQL
#: string-literal unescaping.  The class at matching time:
#: ([\]\[.+?(){}^$|\\])
_ESCAPE_CLASS = r"([\\]\\[.+?(){}^$|\\\\])"


def pattern_regex_expr(pattern_col: str) -> str:
    """SQL expression: robots path pattern → anchored Java regex.
    A trailing ``$`` is the RFC end anchor (stripped, re-added as the
    regex anchor); every other regex metacharacter is escaped; ``*``
    becomes ``.*``.  Matching is then ``path RLIKE regex`` — the
    leading ``^`` pins the match to the start of the path."""
    anchored = f"{pattern_col} LIKE '%$'"
    body = (
        f"CASE WHEN {anchored} THEN "
        f"substring({pattern_col}, 1, length({pattern_col}) - 1) "
        f"ELSE {pattern_col} END"
    )
    esc = f"regexp_replace({body}, '{_ESCAPE_CLASS}', '\\\\\\\\$1')"
    return (
        f"concat('^', replace({esc}, '*', '.*'), "
        f"CASE WHEN {anchored} THEN '$' ELSE '' END)"
    )


def host_expr(url_col: str) -> str:
    """SQL expression: URL → host (authority up to the first slash)."""
    return f"regexp_extract({url_col}, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/]+)', 1)"


def path_expr(url_col: str) -> str:
    """SQL expression: URL → path ('/' when absent), query included —
    robots patterns match the path-with-query per RFC 9309 §2.2.2."""
    return (
        f"coalesce(nullif(regexp_extract({url_col},"
        f" '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]+(/.*)$', 1), ''), '/')"
    )


def select_agent_group(rules: DataFrame, agent: str = DEFAULT_AGENT) -> DataFrame:
    """RFC 9309 §2.2.1 group selection over a (host, agent, rule,
    pattern) table: hosts publishing a group for ``agent`` contribute
    ONLY those lines; every other host contributes its ``*`` group.
    Empty patterns impose no restriction and are dropped here.  The
    specific-group host set is broadcast into the anti-join, so the
    rules table does not shuffle for it either — it is never larger than
    the folded rule table ``robots_verdicts`` broadcasts."""
    rules = rules.filter(F.col("pattern") != "")
    specific = rules.filter(F.lower(F.col("agent")) == agent.lower())
    hosts = F.broadcast(specific.select("host").distinct())
    fallback = rules.filter(F.col("agent") == "*").join(hosts, "host", "left_anti")
    return specific.unionByName(fallback)


def _folded_group(rules: DataFrame, agent: str) -> DataFrame:
    """One row per host: the selected group as an array of
    (match_len, is_allow, regex) structs — the broadcastable form the
    per-row verdict folds over."""
    g = select_agent_group(rules, agent)
    return (
        g.select(
            "host",
            F.struct(
                F.length("pattern").alias("match_len"),
                (F.col("rule") == "allow").alias("is_allow"),
                F.expr(pattern_regex_expr("pattern")).alias("regex"),
            ).alias("r"),
        )
        .groupBy("host")
        .agg(F.collect_list("r").alias("_robots_rules"))
    )


def verdict_expr(path: str, rules_col: str) -> str:
    """SQL expression: RFC precedence over a rule array — keep the
    matching rules, take the lexicographic max of (match_len,
    is_allow): longest pattern wins, allow wins length ties, and an
    empty match set (or a host with no rules at all) is allowed."""
    return (
        f"coalesce(array_max(filter({rules_col}, "
        f"r -> regexp_like({path}, r.regex))).is_allow, true)"
    )


def robots_verdicts(
    urls: DataFrame,
    rules: DataFrame,
    url_col: str = "url",
    agent: str = DEFAULT_AGENT,
) -> DataFrame:
    """The input plus an ``allowed`` column.  The URL corpus never
    shuffles: the folded rules ride in by host-keyed broadcast join and
    the verdict is per-row."""
    folded = F.broadcast(_folded_group(rules, agent))
    with_host = urls.withColumn("_robots_host", F.expr(host_expr(url_col)))
    joined = with_host.join(
        folded, with_host["_robots_host"] == folded["host"], "left"
    )
    return (
        joined.withColumn(
            "allowed",
            F.expr(verdict_expr(path_expr(url_col), "_robots_rules")),
        )
        .drop("_robots_host", "host", "_robots_rules")
    )


def robots_gate(
    urls: DataFrame,
    rules: DataFrame,
    url_col: str = "url",
    agent: str = DEFAULT_AGENT,
) -> DataFrame:
    """URLs the crawler may fetch — the compliance filter itself."""
    return robots_verdicts(urls, rules, url_col, agent).filter(
        F.col("allowed")
    ).drop("allowed")
