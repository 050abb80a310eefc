"""Robots-exclusion compliance for the crawl frontier.

Two pieces, split the way a production crawler splits them:

- :func:`parse_robots_txt` — robots.txt bodies → a normalized rules
  table ``(host, rule, prefix)``. Tiny line-oriented config files, so
  this runs on the shared row driver of the HTML operators
  (``operators/extract.py``): imperative per-file parsing does not
  belong in Catalyst expressions. Only ``User-agent: *`` groups apply — a
  production crawler would pass its token and fall back to ``*``.

- :func:`robots_filter` — the scale piece: frontier urls ⋈ rules on
  host, Google-REP longest-match semantics (most specific rule wins;
  on a length tie ``allow`` beats ``disallow``; no matching rule means
  allowed) over literal path prefixes: the ``*`` and ``$`` wildcards
  are not supported. Pure Catalyst: one equi-join on host plus one
  per-url window, both expressible identically in the SQL oracle.

Scale shape: the rules table is one row per (host, rule) — even at
10^8 hosts it is dwarfed by a 10^12-url frontier, so the join is a
broadcast equi-join on host (the frontier is never exchanged for it)
and the window partitions by the frontier url, bounded by
rules-per-host. The frontier never self-joins and page bodies are
never touched.

No counterpart in mensbeam/HTML-Parser (per-document parser); this is
crawl-pipeline surface above the extraction kernel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .extract import _map_rows
from .urls import SCHEME_HOST_RE

# strips userinfo like links.HOST_RE does — 'https://u@a.com/x' must
# match a.com's rules, or a crafted userinfo bypasses robots entirely
HOST_OF_RE = "^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:@]*)"

ROBOTS_SCHEMA = "host string, rule string, prefix string"


def parse_robots_lines(host: str, body: str) -> list[tuple]:
    """Pure-Python robots.txt group parser (RFC 9309 subset): collect
    Allow/Disallow lines from ``User-agent: *`` groups. Comments
    (``#``) strip to end of line; field names are case-insensitive; an
    empty Disallow value (``Disallow:``) means allow-all and yields no
    rule. Per RFC 9309: consecutive user-agent lines share one group,
    blank lines do NOT end a group (only the next user-agent line
    after rules have begun starts a new one). Rule values are kept as
    written: ``*`` and ``$`` are not translated, so :func:`robots_filter`
    matches them as literal path characters, not as wildcards or an
    end anchor."""
    rules: list[tuple] = []
    in_star = False
    group_has_rules = False
    for raw in body.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line:
            continue
        if ":" not in line:
            continue
        field, _, value = line.partition(":")
        field = field.strip().lower()
        value = value.strip()
        if field == "user-agent":
            if group_has_rules:
                in_star = value == "*"
                group_has_rules = False
            else:
                in_star = in_star or value == "*"
        elif field in ("allow", "disallow"):
            group_has_rules = True
            if in_star and value:
                rules.append((host, field, value))
    return rules


def parse_robots_txt(robots_df: DataFrame, host_col: str = "host",
                     body_col: str = "body") -> DataFrame:
    """(host, body) robots.txt fetches → (host, rule, prefix) rows."""

    def per_row(row):
        return [r[1:] for r in parse_robots_lines(row[0], row[1] or "")]

    # a malformed file yields no rules: the crawl treats it as allow-all
    return _map_rows(robots_df.select(robots_df[host_col].alias("host"),
                                      robots_df[body_col].alias("body")),
                     ROBOTS_SCHEMA, per_row)


def robots_filter(frontier_df: DataFrame, rules_df: DataFrame,
                  url_col: str = "canon") -> DataFrame:
    """Annotate every frontier url with its robots verdict.

    Longest-match REP semantics: among the host's rules whose prefix
    matches the url path, the longest prefix wins; ties go to
    ``allow`` (which sorts before ``disallow``, so one deterministic
    window ordering encodes the tiebreak); a url with no matching rule
    is allowed. Every input ROW passes through annotated — the verdict
    window partitions on a per-row tag, not the url value, so two
    input rows sharing a url each keep their payload columns. Adds
    ``allowed`` boolean plus the winning ``rule``/``prefix`` ('' when
    no rule matched) for crawl-audit logs.

    Rules match as literal path prefixes (``startswith``): the REP
    wildcard ``*`` and end anchor ``$`` are not supported, so a rule
    such as ``Disallow: /*?`` matches only paths that literally begin
    with ``/*?`` and does not block ``/a?b``."""
    host = F.regexp_extract(F.col(url_col), HOST_OF_RE, 1)
    path_raw = F.regexp_replace(F.col(url_col), SCHEME_HOST_RE, "")
    path = F.when(path_raw == "", F.lit("/")).otherwise(path_raw)
    annotated = (frontier_df.withColumn("_host", host)
                 .withColumn("_path", path)
                 .withColumn("_row", F.monotonically_increasing_id()))
    rules = F.broadcast(rules_df.select(F.col("host").alias("_host"),
                                        "rule", "prefix"))
    # LEFT join on (host, prefix-match): a url whose host has no
    # matching rule keeps exactly one NULL-extended row, so the window
    # below sees every url exactly once or its full match set
    j = annotated.join(
        rules,
        (annotated["_host"] == rules["_host"])
        & annotated["_path"].startswith(rules["prefix"]),
        "left").drop(rules["_host"])
    w = Window.partitionBy("_row").orderBy(
        F.col("prefix").isNotNull().desc(),
        F.length("prefix").desc_nulls_last(),
        F.col("rule").asc_nulls_last())
    return (j.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .withColumn("allowed",
                        F.coalesce(F.col("rule"), F.lit(""))
                        != F.lit("disallow"))
            .withColumn("rule", F.coalesce(F.col("rule"), F.lit("")))
            .withColumn("prefix", F.coalesce(F.col("prefix"), F.lit("")))
            .drop("_rn", "_row", "_host", "_path"))


def crawl_schedule(frontier_df: DataFrame, delays_df: DataFrame,
                   url_col: str = "canon",
                   default_delay_s: int = 1) -> DataFrame:
    """Politeness scheduling: assign each frontier url a per-host fetch
    slot and ETA honoring the host's crawl-delay — the step between the
    robots verdict and the fetcher queue.

    Urls are ordered within a host by (n_refs desc, url asc) — highest
    fan-in first, fully deterministic — and slot k fetches at
    ``eta_s = k * delay_s`` (the host's crawl-delay, or
    ``default_delay_s`` when the host declares none). Adds
    (host, fetch_slot, eta_s); input columns pass through (a
    pre-existing ``host`` column is replaced by the one derived from
    ``url_col`` — the schedule keys on the url's own host; the
    internal delay column is underscore-scoped so a frontier carrying
    its own ``delay_s`` payload column is untouched).

    Scale shape: one broadcast equi-join on host against the tiny
    delay table and one per-host window. Per-host scheduling is
    inherently sequential — that is the semantics, not a plan defect —
    so the window sort is bounded by the largest single host's
    frontier; a 10^12-url frontier spread over 10^8 hosts sorts ~10^4
    rows per partition key."""
    host = F.regexp_extract(F.col(url_col), HOST_OF_RE, 1)
    delays = F.broadcast(delays_df.select(
        "host", F.col("delay_s").alias("_delay_s")))
    j = (frontier_df.withColumn("host", host)
         .join(delays, "host", "left")
         .withColumn("_delay_s", F.coalesce(F.col("_delay_s"),
                                            F.lit(default_delay_s))))
    w = Window.partitionBy("host").orderBy(
        F.col("n_refs").desc(), F.col(url_col).asc())
    return (j.withColumn("fetch_slot",
                         (F.row_number().over(w) - 1).cast("long"))
            .withColumn("eta_s",
                        (F.col("fetch_slot") * F.col("_delay_s"))
                        .cast("long"))
            .drop("_delay_s"))
