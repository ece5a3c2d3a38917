"""X10/F2/F3/A6 — robotex_spec.rb ports (FIXTURES.md §3)."""

from polipus_spark.functions.robots import (
    allowed_scalar,
    crawl_delays_df,
    delay_scalar,
    filter_robots_allowed,
    parse_robots_text,
    robots_rules_df,
    wildcard_to_regex,
)
from polipus_spark.sources.corpus import ROBOTS_BODY_DEFAULT

HOST = "www.example.com"
RULES = parse_robots_text(HOST, ROBOTS_BODY_DEFAULT)


def test_disallow_per_agent():
    """robotex_spec.rb: bender denied /my_shiny_metal_ass, allowed /cigars."""
    assert not allowed_scalar(f"http://{HOST}/my_shiny_metal_ass", "bender", RULES)
    assert allowed_scalar(f"http://{HOST}/cigars", "bender", RULES)


def test_wildcard_agent_disallow():
    assert not allowed_scalar(f"http://{HOST}/login", "anybot", RULES)
    assert allowed_scalar(f"http://{HOST}/", "anybot", RULES)


def test_allow_then_disallow_is_denied():
    """robotex_spec.rb:62-67 quirk: Allow rules are dead code ⇒ /locked DENIED."""
    assert not allowed_scalar(f"http://{HOST}/locked", "anybot", RULES)


def test_crawl_delay():
    """robotex_spec.rb:74-84: msnbot 20, others none."""
    assert delay_scalar("msnbot", RULES) == 20
    assert delay_scalar("heartbot", RULES) is None


def test_wildcard_to_regex():
    assert wildcard_to_regex("/a*b") == "^/a.*b"
    assert wildcard_to_regex("/x.y") == r"^/x\.y"


def test_empty_values_skipped():
    rules = parse_robots_text("h", "User-agent: *\nDisallow:\nAllow:\n")
    assert [r for r in rules if r["rule"] in ("allow", "disallow")] == []


def test_missing_robots_allows_all():
    assert allowed_scalar("http://h/x", "any", [])


# Rule values that exercise every character ``re.escape`` escapes, ``*``
# wildcards, query strings, percent-encoded and non-ASCII paths. The gate's
# rules are Python ``re.escape`` output matched by the JVM, so these pin that
# the two regex dialects agree on them.
ESCAPED_VALUES = [
    "/a.b", "/dollar$end", "/^caret", "/plus+", "/q?x=1", "/(paren)", "/[br]",
    "/{cb}", "/pi|pe", "/back\\slash", "/amp&tilde~hash#dash-", "/sp ace",
    "/wild*card", "/*.pdf", "/caf%C3%A9", "/café", "/search?q=*&page=",
]
ODD_HOST = "odd.example.com"
NAMED_ONLY_HOST = "named.example.com"
ODD_BODY = (
    "Disallow: /before-any-agent\n"
    "User-agent: Mozilla/5.0 (compatible; bot+1.0)\n"
    + "".join(f"Disallow: {v}\n" for v in ESCAPED_VALUES[:9])
    + "Crawl-delay: 7\n"
    "User-agent: *\n"
    + "".join(f"Disallow: {v}\n" for v in ESCAPED_VALUES[9:])
    + "Crawl-delay: 3\n"
)
NAMED_ONLY_BODY = (
    "User-agent: bender\n"
    + "".join(f"Disallow: {v}\n" for v in ESCAPED_VALUES)
    + "Crawl-delay: 11\n"
)
# named section, the '*' section, and (on NAMED_ONLY_HOST) no section
USER_AGENTS = [
    "bender", "bender/2.0", "msnbot", "Polipus",
    "Mozilla/5.0 (compatible; bot+1.0)", "Mozilla/5.0 (compatible; botX1.0)",
]


def _probe_paths() -> list[str]:
    """Each rule value as a literal path, extended, and with its special
    characters swapped for letters (which only an unescaped regex matches)."""
    out = ["/", "/login", "/locked", "/cigars", "/my_shiny_metal_ass",
           "/before-any-agent/x", "/x/y.pdf", "/x.pdf?dl=1", "/caf%c3%a9",
           "/cafe", "/search?q=a&page=2", "/search?q=a"]
    for v in ESCAPED_VALUES:
        lit = v.replace("*", "XYZ")
        out += [lit, lit + "/tail", "/" + "".join(c if c.isalnum() else "Z"
                                                  for c in lit[1:])]
    return out


def _robots_docs(spark):
    from polipus_spark.sources.corpus import DOCS_SCHEMA

    bodies = {HOST: ROBOTS_BODY_DEFAULT, ODD_HOST: ODD_BODY,
              NAMED_ONLY_HOST: NAMED_ONLY_BODY}
    docs = spark.createDataFrame(
        [(f"http://{h}/robots.txt", [("text", b, "", 0)], h, 200, None)
         for h, b in bodies.items()],
        DOCS_SCHEMA,
    )
    return docs, {h: parse_robots_text(h, b) for h, b in bodies.items()}


def test_spark_gate_matches_scalar(spark):
    """F2 dataflow gate ≡ scalar gate on the same rules."""
    docs, rules = _robots_docs(spark)
    rules_df = robots_rules_df(docs).cache()
    urls = [(f"http://{h}{p}", h) for h in rules for p in _probe_paths()]
    cands = spark.createDataFrame(urls, "url string, host string")
    for ua in USER_AGENTS:
        got = {r["url"] for r in filter_robots_allowed(cands, rules_df, ua).collect()}
        want = {u for u, h in urls if allowed_scalar(u, ua, rules[h])}
        assert got == want, ua
    # the probes reach both verdicts on every host
    for h in rules:
        verdicts = {allowed_scalar(u, "bender", rules[h]) for u, hh in urls if hh == h}
        assert verdicts == {True, False}, h
    rules_df.unpersist()


def test_spark_crawl_delays(spark):
    docs, rules = _robots_docs(spark)
    rules_df = robots_rules_df(docs).cache()
    for ua in USER_AGENTS:
        got = {r["host"]: r["crawl_delay"]
               for r in crawl_delays_df(rules_df, ua).collect()}
        want = {h: d for h in rules
                if (d := delay_scalar(ua, rules[h])) is not None}
        assert got == want, ua
    got = {r["host"]: r["crawl_delay"] for r in crawl_delays_df(rules_df, "msnbot").collect()}
    assert got == {HOST: 20, ODD_HOST: 3}
    assert crawl_delays_df(rules_df, "otherbot").collect() == [(ODD_HOST, 3)]
    rules_df.unpersist()
