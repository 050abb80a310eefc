"""Deterministic Common-Crawl-style ``pages`` synthesis.

``BASELINE.json.input_hint`` pins the input shape: an Iceberg table of
web pages with columns ``(url string, warc_ts timestamp, html binary,
text string, lang string)``. In production that table is a real crawl;
in this sandbox we synthesise it **deterministically** (pure function of
``documents.parquet`` rows — no RNG, no wall clock) so that

1. every test/bench input is reproducible bit-for-bit, and
2. the *expected* extracted text is computable in ANSI SQL from the
   ``documents`` table alone, giving the DuckDB oracle a way to verify a
   real WHATWG parse end-to-end (the ``text`` column carries the golden
   extraction, like Common Crawl's WET text next to the WARC html).

The generated corpus deliberately exercises the parser surface the
reference covers (/root/reference/lib/Parser.php:49-142):

- the charset-sniff ladder (BOM / ``<meta charset>`` prescan /
  XML-declaration fallback / late-meta relabel / CJK multibyte decode)
  via 10 encoding variants keyed on ``doc_id % 10`` (see
  ``_ENC_VARIANTS``);
- quirks-mode determination (missing doctype every 11th doc);
- character references (escaped text + a literal ``&amp;`` in the footer);
- formatting elements incl. a *misnested* ``<b>…<i>…</b>…</i>`` variant
  (every ``doc_id % 7 == 3``) that drives the adoption-agency algorithm —
  textContent order is invariant under adoption, so the golden text is
  unaffected;
- skew: every 997th doc repeats its body 8000× (~MB-scale giants),
  every 97th 2000×, every 13th 8× (see ``rep_factor``) — the
  Zipf-ish size tail of a real crawl, giving ``run_extraction``'s
  giant-document plan real giants to place.

Generation runs **distributed** (a pandas batch kernel under
``mapInPandas``), never on the driver. ``documents.parquet`` is one
file per scale factor, so ``pages_df`` hash-partitions the small
documents frame by ``doc_id`` before the synthesis — one partition per
core, each of at least ``DOCS_PER_PARTITION`` documents: text
shuffles, html never does, and every downstream parse starts from
parallel input.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

PAGES_SCHEMA = ("url string, warc_ts timestamp, html binary, "
                "text string, lang string")

# encoding variants keyed on doc_id % 10: (label-for-meta, python-codec,
# bom, has_meta).  Variants 8/9 additionally carry real multibyte CJK
# payloads (CJK_TEXT below); the rest are ASCII-or-cp1252-safe, so what
# differs per variant is which rung of the sniff ladder
# (parity /root/reference/lib/Parser/Data.php:59-95) fires and which
# canonical encoding name the parse reports.
_ENC_VARIANTS = [
    ("utf-8", "utf-8", b"", True),           # 0: meta prescan hit
    (None, "utf-8", b"\xef\xbb\xbf", False),  # 1: UTF-8 BOM
    ("windows-1252", "cp1252", b"", True),    # 2: meta → windows-1252
    (None, "utf-16-le", b"\xff\xfe", False),  # 3: UTF-16LE BOM
    ("xmldecl", "iso8859-15", b"", False),    # 4: <?xml encoding?> only
    ("iso-8859-1", "cp1252", b"", True),      # 5: label alias → windows-1252
    ("late", "utf-8", b"", False),            # 6: meta AFTER 1024B → relabel
    (None, "utf-16-be", b"\xfe\xff", False),  # 7: UTF-16BE BOM
    ("shift_jis", "shift_jis", b"", True),    # 8: CJK, multibyte payload
    ("euc-kr", "euc_kr", b"", True),          # 9: CJK, multibyte payload
]

# what Charset.sniff + parse will *report* per variant (oracle mirror).
# Variant 4: XHTML-served-as-html — the only encoding signal is the
# leading <?xml … encoding="ISO-8859-15"?> declaration, exercising the
# fromXMLDeclaration prescan fallback (Charset.php:295-377); the
# declaration itself tokenizes as a bogus comment (1 parse error).
REPORTED_ENCODING = ["utf-8", "utf-8", "windows-1252", "utf-16le",
                     "iso-8859-15", "windows-1252", "utf-8", "utf-16be",
                     "shift_jis", "euc-kr"]

# "extras" buckets keyed on doc_id % 23 (FIXTURES.md §1 content mix):
# (markup appended before </body>, exact textContent contribution,
#  parse emits errors?). The contribution constants are pinned by
# tests/test_spark_operators.py against the real parse — single source
# of truth for both the golden `text` column and the DuckDB oracle.
EXTRAS = {
    # foster parenting: stray text in a table is reparented BEFORE the
    # table (reference TreeConstructor.php:2279-2312,3666-3750)
    1: ("<div><table><tbody><tr><td>cellA</td><td>cellB</td></tr>"
        "STRAY</tbody></table></div>",
        "STRAYcellAcellB", True),
    # rawtext/RCDATA: pre/textarea leading-LF skip, script-data states,
    # style rawtext (reference TreeConstructor.php:500-524,833-838)
    2: ("<pre>\nL1\nL2</pre><textarea>\nTA</textarea>"
        "<script>var s=\"<b>x</b>\";</script><style>p{color:red}</style>",
        "L1\nL2TAvar s=\"<b>x</b>\";p{color:red}", False),
    # character references: named ± semicolon (legacy), numeric dec/hex,
    # C1 remap 0x80→U+20AC (reference Tokenizer.php:3356-3699)
    3: ("<p>&copy;&#169;&#xa9; &eacute;&#233; &#x80; &AMP&ampx &quot;</p>",
        "©©© éé € &&x \"", True),
    # foreign content: svg/math, CDATA literal text, self-closing
    # foreign element (reference TreeConstructor.php:3250-3449)
    4: ('<svg viewBox="0 0 1 1"><title>SVGT</title><![CDATA[CD&TA]]>'
        "<circle/></svg><math><mi>m</mi></math>",
        "SVGTCD&TAm", False),
    # comments / PI-as-bogus-comment / bogus doctype-ish markup: no text
    # (reference Tokenizer.php:2005-2399)
    5: ("<!--note--><?pi data?><!bogus>", "", True),
    # pre leading-LF skip + charrefs inside pre (literal whitespace kept)
    6: ("<pre>\n&gt;A\n  B&#x21;</pre>", ">A\n  B!", False),
    # nested tables (in-table within in-cell re-entry)
    7: ("<table><tr><td>o<table><tr><td>n</td></tr></table></td></tr>"
        "</table>", "on", False),
    # deterministic outlinks (round 3): a <nav> of anchors whose targets
    # are a pure function of doc_id, giving the link-extraction and
    # host-graph operators (operators/links.py) a closed-form oracle.
    # Markup is doc_id-dependent, so the first slot is None and
    # build_page calls links_markup() instead; <nav> is BOILERPLATE
    # (main-content drops the subtree). The second href deliberately
    # arrives messy (SHOUTING host, explicit :443, query + fragment) to
    # exercise operators/urls.canonicalize downstream; the third is
    # non-http and must be filtered out by the operator.
    8: (None, "next ref contact", False),
}

LINKS_BUCKET = 8


def link_targets(doc_id: int) -> tuple[int, int, int]:
    """(next-doc ordinal, host index, query ordinal) for the bucket-8
    nav — mirrored in the extract_links / link_hostgraph oracle SQL in
    __spark_entry__.py (keep in lockstep)."""
    return (doc_id * 7 + 1) % 10**8, doc_id % 5, doc_id % 13


def links_markup(doc_id: int) -> str:
    nxt, h, q = link_targets(doc_id)
    return (f'<nav><a href="/r/doc{nxt:08d}.html">next</a> '
            f'<a href="HTTPS://Site{h}.Example.COM:443/t?q={q}#frag">ref</a>'
            f' <a href="mailto:crawl@example.org">contact</a></nav>')

_PAD = "x" * 1100  # pushes variant-6 meta past the 1024-byte prescan window

# variant-4 stream prefix (must be the very first bytes — Charset.php:306);
# shared with the extract_error_positions oracle (col arithmetic)
XMLDECL = '<?xml version="1.0" encoding="ISO-8859-15"?>'


def _escape(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def rep_factor(doc_id: int) -> int:
    """Giant-document skew factor (mirrored in oracle SQL): every 997th
    doc ~MBs (the 1% skew tail of FIXTURES.md §1), every 97th ~0.5 MB,
    every 13th mildly fat."""
    if doc_id % 997 == 0:
        return 8000
    if doc_id % 97 == 0:
        return 2000
    if doc_id % 13 == 0:
        return 8
    return 1


def _paragraph(doc_id: int, text: str) -> str:
    """One <p> whose textContent is exactly ``text``.

    Formatting wrappers never change textContent (tags are invisible to
    extraction), so variants are free to exercise inline/misnested
    formatting without touching the golden text.
    """
    words = text.split(" ")
    if doc_id % 7 == 3 and len(words) >= 3:
        # misnested → adoption agency (reference TreeConstructor.php:3460)
        w = [_escape(x) for x in words]
        return ("<p><b>" + w[0] + " <i>" + w[1] + "</b> "
                + " ".join(w[2:]) + "</i></p>")
    if doc_id % 5 == 0 and len(words) >= 3:
        w = [_escape(x) for x in words]
        return ("<p><b>" + w[0] + "</b> <em>" + w[1] + "</em> "
                + " ".join(w[2:]) + "</p>")
    return "<p>" + _escape(text) + "</p>"


# multibyte payloads for the CJK-label variants (8: shift_jis,
# 9: euc-kr) so the DECODE path — not just the label ladder — is
# oracle-pinned end-to-end (round-1 gap: ASCII-only payloads made the
# CJK decode label-deep). Chosen well inside both codecs' repertoires.
CJK_TEXT = {8: "日本語のテキスト、漢字とカナ", 9: "한국어 텍스트 문서"}


def expected_text(doc_id: int, text: str, lang: str, source: str) -> str:
    """Golden body.textContent — kept in lockstep with the oracle SQL in
    __spark_entry__.py (built from the same EXTRAS/CJK_TEXT constants)."""
    rep = rep_factor(doc_id)
    body = "\n".join([text] * rep)
    base = f"Doc {doc_id}\n{body}\nsrc={source}&lang={lang}"
    extra = EXTRAS.get(doc_id % 23)
    if extra is not None:
        base += "\n" + extra[1]
    cjk = CJK_TEXT.get(doc_id % 10)
    if cjk is not None:
        base += "\n" + cjk
    return base


def build_page(doc_id: int, text: str, lang: str, source: str
               ) -> tuple[str, pd.Timestamp, bytes, str, str]:
    """Pure function: one documents row -> one pages row."""
    variant = doc_id % 10
    label, codec, bom, has_meta = _ENC_VARIANTS[variant]
    rep = rep_factor(doc_id)

    head_parts = []
    if label == "xmldecl":
        head_parts.append(XMLDECL)
    if doc_id % 11 != 0:
        head_parts.append("<!DOCTYPE html>")
    head_parts.append("<html><head>")
    if has_meta:
        head_parts.append(f'<meta charset="{label}">')
    head_parts.append(f"<title>Doc {doc_id}</title>")
    if label == "late":
        # comment pad keeps the meta outside the 1024-byte prescan window;
        # the in-head meta handler then relabels (ASCII prefix → no restart,
        # parity /root/reference/lib/Parser/Data.php:355-369)
        head_parts.append(f"<!-- {_PAD} -->")
        head_parts.append('<meta charset="utf-8">')
    head_parts.append("</head>")

    paras = "\n".join([_paragraph(doc_id, text)] * rep)
    extra = EXTRAS.get(doc_id % 23)
    if extra is None:
        extra_markup = ""
    elif extra[0] is None:  # bucket 8: doc_id-dependent nav markup
        extra_markup = "\n" + links_markup(doc_id)
    else:
        extra_markup = "\n" + extra[0]
    cjk = CJK_TEXT.get(variant)
    cjk_markup = f"\n<div>{cjk}</div>" if cjk is not None else ""
    body = (f"<body><h1>Doc {doc_id}</h1>\n{paras}\n"
            f"<footer>src={_escape(source)}&amp;lang={_escape(lang)}</footer>"
            f"{extra_markup}{cjk_markup}</body></html>")
    html = bom + ("".join(head_parts) + body).encode(codec)

    url = f"https://example.org/{source}/doc{doc_id:08d}.html"
    # deterministic pseudo-crawl timestamp: seconds offset by a stable hash
    off = int.from_bytes(hashlib.sha256(url.encode()).digest()[:4], "big")
    ts = pd.Timestamp("2025-01-01") + pd.Timedelta(seconds=off % 31_536_000)
    return url, ts, html, expected_text(doc_id, text, lang, source), lang


def _synthesize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = [build_page(int(r.doc_id), r.text, r.lang, r.source)
                for r in pdf.itertuples(index=False)]
        yield pd.DataFrame(rows, columns=["url", "warc_ts", "html",
                                          "text", "lang"])


# Floor on documents per source partition. A row-driver task costs
# ~0.04 s of worker CPU before it sees a row and a page ~2 ms to
# synthesize and parse. Measured at sf0.01 (500 documents, local[8],
# 4-core host, 3 alternated contract sweeps), one partition against
# eight: incremental_recrawl 2.6-2.8 s vs 3.0-3.3 s, extract_text even
# (0.8-1.1 s), the 73-query sweep total 121-131 s vs 118-119 s.
DOCS_PER_PARTITION = 500


def pages_df(spark, sf_dir: str):
    """documents.parquet -> pages DataFrame (distributed synthesis),
    hashed on ``doc_id`` into ``defaultParallelism`` partitions, fewer
    when the table has under ``DOCS_PER_PARTITION`` documents a core."""
    import pyarrow.dataset as ds

    path = f"{sf_dir}/documents.parquet"
    n_docs = ds.dataset(path).count_rows()  # footers only, no Spark job
    parts = min(spark.sparkContext.defaultParallelism,
                max(1, -(-n_docs // DOCS_PER_PARTITION)))
    docs = spark.read.parquet(path).select("doc_id", "text", "lang",
                                           "source")
    if parts > 1:  # else keep the scan split: no shuffle for one task
        docs = docs.repartition(parts, "doc_id")
    return docs.mapInPandas(_synthesize_batches, schema=PAGES_SCHEMA)
