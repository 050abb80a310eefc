"""Seeded, stratified page corpus for the benchmark.

The population is the sf0.1 ``documents`` table (5,000 rows of
``doc_id, text, lang, source``), shipped as ``data/documents.parquet``
so a run reads nothing outside its checkout. Every row falls into one
of the four ``rep_factor`` size classes 1 / 8 / 2000 / 8000 of
``sources.pages``. Within a class (split further into single-byte and
UTF-16 encodings, whose bytes per character differ) the rows are sorted
by page bytes and cut into *bands*: runs of at most ``BAND_ROWS`` rows
whose pages are within ``BAND_TOL`` of the band's smallest.

A seed draws, for each row of the table, one row of that row's band,
with replacement. So every seed has the table's count per class and its
byte mix to within about 1 %, while the rows, and so the urls, differ.
A row drawn again gets the url suffix ``?c=<k>``, the convention of
``sources.pages.pages_df`` for copies of a page.

Pages are built by ``sources.pages.build_page``, the generator the
project's own tests and oracles use, which also yields the golden
extracted text. The program under test receives only ``(url, html)``.
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass, field

TABLE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                     "documents.parquet")
BAND_ROWS = 20
BAND_TOL = 0.10
GIANT_BYTES = 500_000   # a page over this size counts as a giant


@dataclass
class Corpus:
    """Generated pages: parallel lists plus the golden text by url."""
    seed: int
    urls: list[str] = field(default_factory=list)
    html: list[bytes] = field(default_factory=list)
    golden: dict[str, str] = field(default_factory=dict)
    classes: dict[int, int] = field(default_factory=dict)

    @property
    def docs(self) -> int:
        return len(self.urls)

    @property
    def html_bytes(self) -> int:
        return sum(len(h) for h in self.html)

    def url_hash(self) -> str:
        return hashlib.sha256("\n".join(sorted(self.urls)).encode()
                              ).hexdigest()[:16]

    def byte_hash(self) -> str:
        h = hashlib.sha256()
        for u, b in zip(self.urls, self.html):
            h.update(u.encode())
            h.update(len(b).to_bytes(8, "little"))
            h.update(b)
        return h.hexdigest()[:16]

    def summary(self) -> dict:
        giants = [len(h) for h in self.html if len(h) > GIANT_BYTES]
        return {"seed": self.seed, "docs": self.docs,
                "mb": round(self.html_bytes / 1e6, 3),
                "per_class": {str(k): v for k, v in
                              sorted(self.classes.items())},
                "giants": len(giants),
                "giant_byte_share": round(sum(giants) / self.html_bytes, 3),
                "url_hash": self.url_hash(),
                "byte_hash": self.byte_hash()}


def _pages() -> dict[int, tuple]:
    """doc id -> ``build_page`` output, for every row of the table."""
    import pyarrow.parquet as pq

    from html_parser_spark.sources.pages import build_page

    rows = pq.read_table(TABLE, columns=["doc_id", "text", "lang", "source"]
                         ).to_pylist()
    return {r["doc_id"]: build_page(r["doc_id"], r["text"], r["lang"],
                                    r["source"]) for r in rows}


def bands(pages: dict[int, tuple]) -> list[list[int]]:
    """The table's doc ids cut into bands of like pages (see above)."""
    from html_parser_spark.sources.pages import rep_factor

    size = {d: len(p[2]) for d, p in pages.items()}
    strata: dict[tuple[int, bool], list[int]] = {}
    for d in pages:
        strata.setdefault((rep_factor(d), d % 10 in (3, 7)), []).append(d)
    out = []
    for key in sorted(strata):
        band: list[int] = []
        for d in sorted(strata[key], key=lambda d: (size[d], d)):
            if band and (len(band) == BAND_ROWS
                         or size[d] > size[band[0]] * (1 + BAND_TOL)):
                out.append(band)
                band = []
            band.append(d)
        out.append(band)
    return out


def generate(seed: int) -> Corpus:
    """Build the corpus for ``seed``: one drawn row per table row."""
    from html_parser_spark.sources.pages import rep_factor

    pages = _pages()
    band_of = {d: b for b in bands(pages) for d in b}
    rng = random.Random(seed)
    copies: dict[int, int] = {}
    corpus = Corpus(seed)
    for slot in sorted(pages):
        d = rng.choice(band_of[slot])
        url, _ts, html, golden, _lang = pages[d]
        k = copies[d] = copies.get(d, -1) + 1
        if k:
            url = f"{url}?c={k}"
        rep = rep_factor(d)
        corpus.classes[rep] = corpus.classes.get(rep, 0) + 1
        corpus.urls.append(url)
        corpus.html.append(html)
        corpus.golden[url] = golden
    return corpus


def stage(corpus: Corpus, path: str, files: int, seed: int) -> None:
    """Write ``(url, html)`` as ``files`` parquet files. Rows are dealt
    round-robin in a seeded order, so large pages spread over the scan
    splits the way a well-mixed crawl table's do."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    order = list(range(corpus.docs))
    random.Random(seed ^ 0x5EED).shuffle(order)
    os.makedirs(path, exist_ok=True)
    for f in range(files):
        idx = order[f::files]
        table = pa.table({"url": [corpus.urls[i] for i in idx],
                          "html": pa.array([corpus.html[i] for i in idx],
                                           type=pa.binary())})
        pq.write_table(table, os.path.join(path, f"part-{f:05d}.parquet"))
