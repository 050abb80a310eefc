"""Outlink extraction + host-level link graph over the parsed DOM.

The reference parses to a DOM and leaves link harvesting to the caller
(its README's first example is exactly this: parse, then walk the
document for elements — /root/reference/README.md:34-57); in a crawl
pipeline the canonical consumers are frontier expansion, PageRank-style
host graphs, and anchor-text harvesting. This operator surfaces
``<a href>`` edges from the SAME parse kernel as text extraction, so a
production job computes text + links in one pass over the html bytes.

Kernel shape: the per-doc parse already runs in Python (the declared
``mapInPandas`` kernel — operators/extract.py); anchor harvesting plus
RFC 3986 reference resolution (stdlib ``urllib.parse.urljoin``) ride
along at negligible marginal cost next to the parse itself. Everything
downstream — scheme filtering, URL canonicalization, host extraction,
the host-graph aggregation — is pure Catalyst.

Scale notes (100 TB / 10^12 docs):

- Output rows are (page url, raw href, resolved target, anchor text):
  short strings, no page payload — the edge list is wide in rows but
  narrow in bytes, and the html column never leaves the kernel.
- ``max_links_per_doc`` hard-caps adversarial pages (a single document
  with 10^7 anchors would otherwise fan one input row into GBs).
- ``host_graph`` is a map-side-combined groupBy on two short host
  keys; only (src_host, dst_host, partial count) rows shuffle. Skewed
  hub hosts are exactly the AQE skew-agg case; no row explosion.
"""

from __future__ import annotations

from urllib.parse import urljoin

from pyspark.sql import DataFrame, functions as F

from ..engine import parse
from ..engine.dom import HTML_NS, Document, DocumentFragment, Element
from ..engine.extractor import find_body, text_content
from .extract import _map_pages
from .urls import canonicalize

LINKS_SCHEMA = "url string, href string, target string, anchor string"

# host = netloc minus userinfo and port: userinfo would let a page mint
# fake graph nodes ("https://wikipedia.org@evil.com/"), and ports would
# fragment one physical host's rank mass across nodes
HOST_RE = "^[a-z][a-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:@]*)"


def harvest_anchors(doc: Document,
                    max_links: int = 10_000) -> list[tuple[str, str]]:
    """(href, anchor textContent) for every HTML-namespace ``<a>`` with
    an ``href`` attribute under body, in tree order (nested anchors are
    impossible post-parse: an ``<a>`` start tag implicitly closes an
    open one). Capped at ``max_links`` entries."""
    body = find_body(doc)
    if body is None:
        return []
    out: list[tuple[str, str]] = []
    stack = [body]
    while stack:
        n = stack.pop()
        if isinstance(n, Element):
            if n.namespace == HTML_NS and n.name == "a":
                href = n.get("href")
                if href is not None:
                    out.append((href, text_content(n)))
                    if len(out) >= max_links:
                        return out
            stack.extend(reversed(n.children))
        elif isinstance(n, (Document, DocumentFragment)):
            stack.extend(reversed(n.children))
    return out


def resolve_anchors(doc: Document, base_url: str,
                    max_links: int = 10_000) -> list[tuple[str, str, str]]:
    """(href, target, anchor) for :func:`harvest_anchors`' edges, where
    ``target`` is the href resolved against the page url (RFC 3986).
    An unresolvable href or a NULL base url keeps the raw href as its
    target instead of killing the task."""
    out = []
    for href, anchor in harvest_anchors(doc, max_links=max_links):
        try:
            target = urljoin(base_url, href)
        except Exception:
            target = href
        out.append((href, target, anchor))
    return out


def extract_links(pages_df: DataFrame,
                  max_html_bytes: int = 64 * 1024 * 1024,
                  max_links_per_doc: int = 10_000) -> DataFrame:
    """pages(url, html, ...) -> one row per ``<a href>``:
    (url, href, target, anchor). ``target`` is the href resolved
    against the page url (RFC 3986); all schemes pass through — apply
    :func:`http_links` for the crawl-frontier subset. Column pruning:
    only (url, html) reach the kernel. A page that fails to parse
    contributes zero link rows."""
    def per_doc(url, raw, row):
        return resolve_anchors(parse(raw).document, url, max_links_per_doc)

    return _map_pages(pages_df, LINKS_SCHEMA, per_doc,
                      max_html_bytes=max_html_bytes)


def http_links(links_df: DataFrame) -> DataFrame:
    """Crawl-frontier subset: http(s) targets only, with the canonical
    target (lowercased scheme+host, default port stripped, query and
    fragment dropped — operators/urls.canonicalize) as ``canon``."""
    # (?i): urljoin rewrites the href only when its scheme matches the
    # base, so an absolute "HTTPS://…" href on an http page keeps its
    # uppercase scheme — still a valid http(s) edge
    return (links_df
            .where(F.col("target").rlike("(?i)^https?://"))
            .withColumn("canon", canonicalize(F.col("target"))))


def anchor_stats(links_df: DataFrame) -> DataFrame:
    """Anchor-text aggregation per canonical target (anchor mining for
    retrieval/QA training data: the text people use to link to a page
    is a free relevance label). One map-side-combined exchange on the
    canonical target; ``top_anchor`` is the lexicographic min so the
    representative is deterministic (swap for ``max_by`` on a weight
    column in a frequency-weighted variant — same plan)."""
    e = http_links(links_df)
    return (e.groupBy(F.col("canon").alias("target"))
            .agg(F.count("*").cast("long").alias("n_links"),
                 F.countDistinct("anchor").cast("long").alias("n_anchors"),
                 F.min("anchor").alias("top_anchor")))


def frontier(links_df: DataFrame, pages_df: DataFrame) -> DataFrame:
    """Crawl-frontier expansion: canonical http(s) targets not already
    crawled — one distinct + one LEFT ANTI join, both on the canonical
    url key. The crawled side projects to its canonical key only, so
    at 10^12 crawled pages the anti-join shuffles two narrow key
    columns (or broadcasts, when the crawl seed is small); n_refs
    gives the frontier its fetch-priority ordering for free."""
    seen = pages_df.select(canonicalize(F.col("url")).alias("canon"))
    return (http_links(links_df)
            .groupBy("canon")
            .agg(F.count("*").cast("long").alias("n_refs"))
            .join(seen, "canon", "left_anti"))


def host_graph(links_df: DataFrame) -> DataFrame:
    """Host-level link graph: (src_host, dst_host, n_links) from the
    http(s) edges. Hosts come from the CANONICAL urls, so spelling
    variants of one host collapse to one node. One map-side-combined
    exchange on the two short host keys."""
    e = http_links(links_df)
    src = F.regexp_extract(canonicalize(F.col("url")), HOST_RE, 1)
    dst = F.regexp_extract(F.col("canon"), HOST_RE, 1)
    return (e.groupBy(src.alias("src_host"), dst.alias("dst_host"))
            .agg(F.count("*").cast("long").alias("n_links")))
