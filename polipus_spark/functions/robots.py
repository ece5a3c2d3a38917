"""X10/F2/F3/A6 — robots.txt parsing, the allowed? gate, crawl delays.

Reference: /root/reference/lib/polipus/robotex.rb. Replicated quirks (do NOT
"fix" — they are observable behavior pinned by spec/polipus/robotex_spec.rb):

  * **Allow rules are dead code** (robotex.rb:58-66): the allows loop runs
    ``unless allowed`` but ``allowed`` starts true, so Allow never rescues a
    URL; a path matching both Allow and Disallow is DENIED (spec :62-67 —
    ``/locked``). We therefore parse Allow rules (for table parity) but the
    gate only evaluates Disallows.
  * Wildcard→regex (robotex.rb:88-92): ``^`` + re.escape(pattern) with
    ``\\*`` → ``.*``; matched un-anchored at the end (prefix match).
  * Empty Allow/Disallow values are skipped (robotex.rb:36,41).
  * Each ``User-agent:`` line REPLACES the current agent (robotex.rb:34) —
    consecutive UA lines do not group. Rules accumulate per agent-regex
    source across sections (Ruby Hash keyed by Regexp).
  * ``Crawl-delay``: one value per agent (last wins); lookup returns the
    FIRST agent (insertion order) whose regex matches the UA
    (robotex.rb:79-84).
  * Lines split on ':'— value rejoined, whitespace-stripped; comments /
    blank lines skipped (robotex.rb:26-31).
  * Missing robots.txt or non-200 → allow-all, no delays (robotex.rb:17-20).
  * The matched path is ``request_uri`` = path + query (robotex.rb:56).

Spark shape: robots docs are parsed once per wave-0 with a mapInPandas over
the (small) set of ``*/robots.txt`` corpus rows into a ``robots_rules``
DataFrame (host, agent_re, rule, path_re, delay, section_order). The F2 gate
is one broadcast ``left_anti`` join of the candidates against this user
agent's disallow rules on ``host = _r_host AND regexp_like(path, path_re)``:
``regexp_like`` takes a row-dependent pattern column, so the match runs in
the JVM and the candidates are read once. The rule regexes are Python
``re.escape`` output, which means the same in Java's regex syntax: every
escape it emits is a backslash before a non-letter (a literal in both), and
the only operators left are ``^`` and ``.*`` (``tests/test_robots.py`` pins
the gate against ``allowed_scalar`` on every escaped character).
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

RULES_SCHEMA = (
    "host string, agent_re string, rule string, path_re string, "
    "delay int, section_order int"
)

_LINE_SKIP = re.compile(r"^\s*(#.*|$)")


def wildcard_to_regex(pattern: str) -> str:
    """F3 (robotex.rb:88-92): escaped, '*'→'.*', anchored at start."""
    escaped = re.escape(pattern).replace(re.escape("*"), ".*")
    return "^" + escaped


def parse_robots_text(host: str, body: str) -> list[dict]:
    """X10: robots body → ordered rule rows. Pure function (simulator reuses)."""
    rules: list[dict] = []
    agent = ".*"  # initial agent regex (robotex.rb:25) — plain /.*/, not to_regex'd
    section_order: dict[str, int] = {}
    n_sections = 0
    delays: dict[str, int] = {}
    for line in body.splitlines():
        if _LINE_SKIP.match(line):
            continue
        key, _, value = line.partition(":")
        value = value.strip()
        key = key.strip().lower()
        if key == "user-agent":
            agent = wildcard_to_regex(value)
        elif key in ("allow", "disallow"):
            if value:
                if agent not in section_order:
                    section_order[agent] = n_sections
                    n_sections += 1
                rules.append(
                    {
                        "host": host,
                        "agent_re": agent,
                        "rule": key,
                        "path_re": wildcard_to_regex(value),
                        "delay": None,
                        "section_order": section_order[agent],
                    }
                )
        elif key == "crawl-delay":
            if agent not in section_order:
                section_order[agent] = n_sections
                n_sections += 1
            try:
                delays[agent] = int(value)
            except ValueError:
                delays[agent] = 0  # Ruby to_i on garbage
    for agent_re, d in delays.items():
        rules.append(
            {
                "host": host,
                "agent_re": agent_re,
                "rule": "delay",
                "path_re": None,
                "delay": d,
                "section_order": section_order[agent_re],
            }
        )
    return rules


def request_uri(url: str) -> str:
    """path + query (URI#request_uri), '/' for empty path."""
    m = re.match(r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^#]*)", url)
    rest = m.group(1) if m else ""
    return rest if rest.startswith("/") else "/" + rest


def allowed_scalar(url: str, user_agent: str, host_rules: list[dict]) -> bool:
    """F2 gate for one URL (simulator path). Disallow-wins; Allow dead code."""
    path = request_uri(url)
    for r in host_rules:
        if r["rule"] != "disallow":
            continue
        if re.search(r["agent_re"], user_agent) and re.search(r["path_re"], path):
            return False
    return True


def delay_scalar(user_agent: str, host_rules: list[dict]) -> int | None:
    """A6 lookup: first section (by order) whose agent matches the UA."""
    best = None
    for r in sorted(host_rules, key=lambda r: r["section_order"]):
        if r["rule"] == "delay" and re.search(r["agent_re"], user_agent):
            return r["delay"]
    return best


# ---------------------------------------------------------------------------
# Spark builders
# ---------------------------------------------------------------------------


def robots_rules_df(docs: DataFrame) -> DataFrame:
    """Parse every ``http(s)://<host>/robots.txt`` doc into rule rows.

    S11: only code==200 robots docs count; hosts without one fall back to
    allow-all simply by being absent from this table (left-join semantics in
    the gate). The robots body is the concatenation of its text spans in
    span order — parsed in one mapInPandas (Arrow), no per-row Python.
    """
    from polipus_spark.functions.links import spans_in_order

    robots_docs = (
        docs.where(F.col("doc_id").rlike(r"^https?://[^/]+/robots\.txt$"))
        .where(F.col("code") == 200)
        .select(
            F.col("host"),
            F.concat_ws(
                "\n",
                F.transform(spans_in_order(F.col("spans")), lambda s: s["text"]),
            ).alias("body"),
        )
    )

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["host", "agent_re", "rule", "path_re", "delay", "section_order"]
        for pdf in batches:
            out: list[dict] = []
            for host, body in zip(pdf["host"], pdf["body"]):
                out.extend(parse_robots_text(host, body))
            yield (
                pd.DataFrame(out, columns=cols)
                if out
                else pd.DataFrame({c: [] for c in cols})
            )

    return robots_docs.mapInPandas(_parse, RULES_SCHEMA)


def filter_robots_allowed(
    candidates: DataFrame,
    rules: DataFrame,
    user_agent: str,
    url_col: str = "url",
    host_col: str = "host",
) -> DataFrame:
    """F2 as a dataflow: drop candidates denied by a disallow rule.

    One broadcast ``left_anti`` join against this UA's (small) disallow
    table; hosts with no rules pass (allow-all fallback). Only disallow
    rules are evaluated — the Allow dead-code quirk, see module docstring.
    """
    disallows = rules.where(
        (F.col("rule") == "disallow")
        & F.regexp_like(F.lit(user_agent), F.col("agent_re"))
    ).select(F.col("host").alias("_r_host"), "path_re")
    path = F.regexp_replace(
        F.regexp_replace(F.col(url_col), r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*", ""),
        r"#.*$",
        "",
    )
    path = F.when(path.startswith("/"), path).otherwise(F.concat(F.lit("/"), path))
    return candidates.join(
        F.broadcast(disallows),
        (F.col(host_col) == F.col("_r_host")) & F.regexp_like(path, F.col("path_re")),
        "left_anti",
    )


def crawl_delays_df(rules: DataFrame, user_agent: str) -> DataFrame:
    """A6: per-host crawl delay for this UA → (host, crawl_delay).

    First matching section in file order wins (robotex.rb:79-84).
    """
    from pyspark.sql import Window as W

    d = rules.where(
        (F.col("rule") == "delay")
        & F.regexp_like(F.lit(user_agent), F.col("agent_re"))
    )
    w = W.partitionBy("host").orderBy("section_order")
    return (
        d.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("host", F.col("delay").alias("crawl_delay"))
    )
