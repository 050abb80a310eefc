"""The flagship operator: WHATWG parse + text extraction over Arrow
batches of raw html bytes, and the one row driver every per-row
``mapInPandas`` operator of the package runs on.

Equivalent reference surface: ``Parser::parse`` + body ``textContent``
(/root/reference/lib/Parser.php:49-142, README.md:138-147). The whole
bytes → sniff → tokenize → tree-construct → extract lifecycle is one
Python call per document (the stages are coupled by feedback loops —
SURVEY.md §3.4 — so they fuse into a single kernel), applied across an
Arrow batch under ``mapInPandas``.

One driver, fourteen operators. Each per-row operator is a
``per_row(row) -> rows`` function plus its output schema;
:func:`_row_kernel` is the one batch loop that runs them, and
:func:`_map_rows` the one ``mapInPandas`` call. The driver owns the
batch loop, per-row failure isolation, by-name pass-through of every
input column the output schema also names (so a NULL key rides
through as NULL), the lineage columns, the frame build and the GC
policy, so each of those is written once and holds for every operator
alike. The six HTML operators (``extract_pages``, ``extract_links``,
``extract_html_tables``, ``extract_main_content``,
``extract_error_positions``, ``roundtrip_check``) share one more
per-row step, :func:`_page_rows` (through :func:`_map_pages`): NULL
html → ``b""``, the ``preprocess`` hook, the byte cap and the
``html_bytes``/``truncated`` columns. The other eight are
``extract_pdf_pages``, ``fragment.parse_fragments``,
``robots.parse_robots_txt``, ``multimodal.image_ahash``,
``multimodal.decode_media``, ``multimodal.frame_sample``,
``conformance.conformance_results`` and ``sources/warc.warc_records``.

Scale notes (100 TB / 10^12 docs):

- **Arrow batch sizing.** Cells are whole html documents (KBs-MBs), so
  the default 10k-rows-per-batch would make multi-GB batches. Callers
  must set ``spark.sql.execution.arrow.maxRecordsPerBatch`` to ~64-128
  and ``maxBytesPerBatch`` to a few MiB (``plans.pipeline.configure``).
- **Bounded memory.** Per-document work is O(doc size), and the HTML
  step hard-caps every document at ``max_html_bytes`` (64 MiB unless the
  operator takes the kwarg) before any operator sees it: pathological
  documents are truncated at the cap, never parsed unbounded. Where the
  schema has ``truncated`` and ``html_bytes`` columns the cut is
  flagged and the parsed size reported.
- **GC per batch, not per allocation, over the batch's objects only.**
  A parsed DOM holds no reference cycle (a node's parent is a weak
  reference), so reference counting frees each document's tree as soon
  as its row is done. The collector still stays off for the driver's
  generator's lifetime: parsing allocates millions of objects, and the
  collections those allocations trigger cost ~7 % of the parse CPU.
  One ``gc.collect()`` after each yielded batch frees whatever cycles
  are left, a bounded share per batch. The engine leaves none (on bare
  pandas, ``extract_pages``' collections find nothing); the collection
  bounds what the worker's other libraries, an operator's own helpers
  or a later change may leave, for well under a millisecond a batch.
  A full collection would also scan the worker's whole long-lived heap
  (pyspark, pandas, pyarrow, the engine's module state) on every
  batch, so the driver freezes (``gc.freeze()``) what is alive when
  its first batch starts: each collection then scans only what the
  generator made since. When the generator closes it unfreezes what it
  froze and re-enables the collector. A caller whose heap is already
  frozen keeps it frozen; the driver then freezes nothing.
- **Counters, not lists.** Parse errors become per-doc counts (summed
  by the run report); full error tuples never leave the executor
  (the reference gates error collection the same way for performance —
  /root/reference/lib/Parser/Data.php:56-57).
- **Lineage.** Every ``extract_pages`` row carries the executor
  partition id and a batch sequence number, so a resumed/retried run can
  be audited per-partition (north_rule: "per-partition lineage +
  metrics").
"""

from __future__ import annotations

import gc
import re
import sys
import zipimport
from collections.abc import Iterator

import pandas as pd

from ..engine import parse, extract_text, serialize
from ..engine.extractor import (extract_body_text, extract_main_text,
                                extract_tables)

EXTRACT_SCHEMA = (
    "url string, text string, "
    "spans array<struct<path:string,tag:string,start:long,end:long>>, "
    "encoding string, quirks_mode int, n_errors long, n_tokens long, "
    "n_elements long, html_bytes long, "
    "truncated boolean, part_id int, batch_seq long"
)

LINKS_COL_SCHEMA = ("links array<struct<href:string,target:string,"
                    "anchor:string>>")


# lineage columns the driver fills wherever an operator's schema has them
_LINEAGE = ("part_id", "batch_seq")


def _field_names(schema: str) -> list[str]:
    """Top-level column names of a DDL schema string."""
    flat = schema
    while "<" in flat:  # drop nested type parameters, innermost first
        flat = re.sub(r"<[^<>]*>", "", flat)
    return [f.split()[0] for f in flat.split(",")]


def _own_cols(names: list[str], in_cols) -> list[str]:
    """The columns a ``per_row`` function fills, in schema order: the
    schema's, minus the input columns the driver passes through and
    the lineage."""
    return [n for n in names if n not in in_cols and n not in _LINEAGE]


def _partition_id() -> int:
    try:  # absent when the kernel runs on bare pandas
        from pyspark import TaskContext
        tc = TaskContext.get()
        return tc.partitionId() if tc is not None else -1
    except Exception:
        return -1


def _drop_zip_importers() -> None:
    """Drop the zipimporters from ``sys.path_importer_cache``.

    pyspark starts every Python task with ``importlib.invalidate_caches()``
    (``worker_util.setup_spark_files``), and on Python 3.11 each cached
    zipimporter's ``invalidate_caches()`` re-reads its archive's whole
    central directory. A reused worker caches 16 of them: Spark's
    ``pyspark.zip`` and 11 of its package directories, the py4j zip and
    ``py4j/``, the ``spark-core`` jar and its ``org/``. Measured on a
    4-core shared host (Spark 4.1.2, Python 3.11.7), this drop cut a
    trivial row-driver operator's worker CPU per extra task from
    210-248 ms to 36-42 ms (warm ``local[3]``, 30 versus 3
    partitions), and ``crawl_mix``'s ``cpu_s_per_mb`` from 0.1515 to
    0.1246 s/MB (medians of 10 interleaved pairs, 9 of them better).

    Safe because the entries are only a cache and no archive on a
    worker's ``sys.path`` changes while the worker lives: the
    installation's zips and jar are fixed, and Spark refuses to
    overwrite an added path. A later import re-creates its importer
    from ``zipimport._zip_directory_cache`` without reading the
    archive again."""
    cache = sys.path_importer_cache
    for path in [p for p, f in cache.items()
                 if isinstance(f, zipimport.zipimporter)]:
        del cache[path]


def _row_kernel(schema: str, per_row, fail: tuple | None = None):
    """The ``mapInPandas`` function every per-row operator runs on: pure
    pandas in and out, so it also runs on local frames without Spark.

    ``per_row(row)`` gets one input row (a tuple in the batch's column
    order) and returns that row's output rows. Each is a tuple of the
    schema's columns that the driver does not fill, in schema order.
    The driver fills every column the input batch also has, by name
    (each output row carries its input row's value, so a NULL key rides
    through as NULL and never reaches the operator's code), and the
    lineage (``part_id``, ``batch_seq``) where the schema has those
    columns. A row whose ``per_row`` raises yields the row ``fail``
    instead, or no row when ``fail`` is None: one bad row never fails
    the task.

    GC: the collector is off while the generator lives, since the
    collections a batch's allocations would trigger cost ~7 % of its
    parse CPU; reference counting frees each parsed tree, and one
    ``gc.collect()`` after each yielded batch frees any cycle made
    outside the engine. When it starts, the generator freezes the
    heap that is alive (``gc.freeze()``, only if nothing is frozen yet),
    so those collections scan only the objects made since. Closing the
    generator unfreezes what it froze and re-enables the collector.

    In a Spark task (a ``TaskContext`` exists), closing the generator
    also drops the worker's cached zipimporters
    (:func:`_drop_zip_importers`), so the next task on the reused
    worker does not re-read their archives; on bare pandas the import
    machinery is left alone."""
    names = _field_names(schema)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        part_id = _partition_id()
        # the GC policy of the module docstring: a full collection of a
        # worker heap takes ~40 ms, one of the batch's own garbage ~5 ms
        gc_was_enabled = gc.isenabled()
        gc.disable()
        froze = gc.get_freeze_count() == 0
        if froze:
            gc.freeze()
        try:
            for seq, pdf in enumerate(batches):
                through = {n: i for i, n in enumerate(pdf.columns)
                           if n in names}
                own = _own_cols(names, through)
                rows, sources = [], []
                for row in pdf.itertuples(index=False, name=None):
                    try:
                        out = per_row(row)
                    except Exception:  # isolate the bad row
                        out = [] if fail is None else [fail]
                    rows += out
                    sources += [row] * len(out)
                cols = dict(zip(own, zip(*rows)))
                if sources:
                    ins = list(zip(*sources))
                    cols.update((n, ins[i]) for n, i in through.items())
                cols.update(part_id=[part_id] * len(rows),
                            batch_seq=[seq] * len(rows))
                # an empty batch gets object columns, which Arrow casts
                # to any type (an empty float64 column fails on timestamps)
                yield pd.DataFrame({n: cols.get(n, ()) for n in names},
                                   dtype=None if rows else object)
                gc.collect()
        finally:
            if froze:
                gc.unfreeze()
            if gc_was_enabled:
                gc.enable()
            if part_id >= 0:
                _drop_zip_importers()

    return run


def _map_rows(df, schema: str, per_row, fail: tuple | None = None):
    """Run :func:`_row_kernel` over ``df``, already pruned to the
    columns ``per_row`` reads and the ones it passes through."""
    return df.mapInPandas(_row_kernel(schema, per_row, fail), schema=schema)


def _page_rows(schema: str, in_cols, per_doc, fail: tuple | None = None,
               max_html_bytes: int = 64 * 1024 * 1024, preprocess=None):
    """The per-row step shared by the HTML operators, over input rows
    (url, html, ...) whose column names are ``in_cols``.

    Per document: NULL html becomes ``b""``, ``preprocess`` (if any)
    runs, the bytes are capped at ``max_html_bytes``, and
    ``per_doc(url, raw, row)`` returns the document's output rows
    without the parsed size (``html_bytes``) and cap flag
    (``truncated``), which this step adds where the schema has that
    adjacent pair. A document whose ``preprocess`` or ``per_doc``
    raises yields ``fail`` with the size reached so far, or no row
    when ``fail`` is None."""
    own = _own_cols(_field_names(schema), in_cols)
    at = own.index("html_bytes") if "html_bytes" in own else None

    def per_row(row):
        html = row[1]
        raw = bytes(html) if html is not None else b""
        truncated = False
        try:
            if preprocess is not None:
                raw = preprocess(raw)
            if max_html_bytes and len(raw) > max_html_bytes:
                raw, truncated = raw[:max_html_bytes], True
            out = per_doc(row[0], raw, row)
        except Exception:  # isolate the bad document, keep its size
            out = [] if fail is None else [fail]
        if at is None:
            return out
        return [r[:at] + (len(raw), truncated) + r[at:] for r in out]

    return per_row


def _map_pages(pages_df, schema: str, per_doc, fail: tuple | None = None,
               extra_cols=(), **page):
    """Column-prune ``pages_df`` to (url, html, *extra_cols) and run
    :func:`_page_rows` over it on the row driver; ``page`` takes the
    cap and hook."""
    df = pages_df.select("url", "html", *extra_cols)
    return _map_rows(df, schema,
                     _page_rows(schema, df.columns, per_doc, fail, **page))


def bounded_zlib(max_bytes: int):
    """``preprocess`` hook: zlib decompression with a hard output
    bound. A deflate bomb (KBs of input, GBs of output) yields at most
    ``max_bytes + 1`` bytes — the caller's ``max_html_bytes`` cap then
    truncates and flags the row — so one adversarial payload can never
    exhaust an executor. Corrupt input still raises (``zlib.error``)
    into the per-row failure arm. Pass the job's ``max_html_bytes`` as
    ``max_bytes``."""
    import zlib

    def hook(raw: bytes) -> bytes:
        d = zlib.decompressobj()
        return d.decompress(raw, max_bytes + 1)

    return hook


def extract_pages(pages_df, max_html_bytes: int = 64 * 1024 * 1024,
                  max_spans: int = 10_000, with_spans: bool = True,
                  transport_col: str | None = None,
                  preprocess=None, with_links: bool = False,
                  max_links: int = 10_000):
    """pages(url, html, ...) -> extraction output DataFrame.

    Column pruning: selects only (url, html) — plus the optional
    per-row transport-charset column — before the UDF so the scan
    never reads columns the kernel doesn't need.
    ``transport_col`` names an optional per-row Content-Type charset
    column (the crawl's HTTP header) fed into the sniff ladder as the
    transport layer (Charset::fromTransport semantics).
    ``preprocess`` is an optional ``bytes -> bytes`` hook applied before
    the cap/parse (decompression of gzip-transfer-encoded crawl
    payloads — use ``bounded_zlib(max_html_bytes)``, NOT bare
    ``zlib.decompress``: the cap runs after the hook, so an
    unbounded decompressor would let a deflate bomb blow the worker's
    memory before the cap sees it); unlike the parse itself — which
    never raises on any byte input — decompression of corrupt payloads
    genuinely can, and such rows take the failure arm
    (``encoding='error', n_errors=-1``) without failing the task.
    """
    if with_links:
        from .links import resolve_anchors

    def per_doc(url, raw, row):
        o = parse(raw, transport_charset=(row[2] or None)
                  if transport_col else None)
        if with_spans:
            text, spans = extract_text(o.document, max_spans=max_spans)
            spans = [{"path": p, "tag": t, "start": s, "end": e}
                     for (p, t, s, e) in spans]
        else:
            text, spans = extract_body_text(o.document), []
        out = (text, spans, o.encoding, o.quirks_mode, len(o.errors),
               o.n_tokens, o.n_elements)
        if with_links:
            # links ride the SAME parse — one pass over the bytes
            # yields text AND the edge list (operators/links.py
            # documents the standalone variant)
            out += ([{"href": h, "target": t, "anchor": a} for h, t, a
                     in resolve_anchors(o.document, url, max_links)],)
        return [out]

    fail = ("", [], "error", 0, -1, 0, 0) + (([],) if with_links else ())
    schema = EXTRACT_SCHEMA + (", " + LINKS_COL_SCHEMA if with_links else "")
    # aliased: a transport column named like an output column (say
    # ``encoding``) would otherwise pass through in its place
    return _map_pages(pages_df, schema, per_doc, fail,
                      (pages_df[transport_col].alias("transport"),)
                      if transport_col else (),
                      max_html_bytes=max_html_bytes, preprocess=preprocess)


def roundtrip_check(pages_df):
    """Serializer fixpoint invariant per document:
    ``serialize(parse(serialize(parse(html))))`` equals
    ``serialize(parse(html))`` (WHATWG serialization is a fixpoint after
    one parse→serialize normalization; reference surface
    /root/reference/lib/Parser/Serializer.php:70-81).
    Returns (url, idempotent boolean)."""

    def per_doc(url, raw, row):
        once = serialize(parse(raw).document)
        twice = serialize(parse(once.encode("utf-8"), "utf-8").document)
        return [(once == twice,)]

    return _map_pages(pages_df, "url string, idempotent boolean", per_doc,
                      (False,))


POSITIONS_SCHEMA = ("url string, tok_code string, tok_line long, "
                    "tok_col long, tree_code string, tree_line long, "
                    "tree_col long, n_positions long")


def extract_error_positions(pages_df):
    """Debug-mode error positions at scale: per document, the FIRST
    tokenizer-level and FIRST tree-construction-level parse error as
    (code, line, col) — the Spark surface of the engine's opt-in
    ``track_positions`` mode (reference gating parity: the error
    handler enables position bookkeeping, Data.php:56-57; tuple format
    ParseErrorEmitter.php:62-69). Sentinels ('', 0, 0) mean "no error
    at that level"; ``n_positions`` is the total tracked tuple count
    (== n_errors when no decode errors occurred).

    This is a diagnostics job you run on a SAMPLE of a crawl (error
    triage, corpus debugging), not the production extraction path —
    position bookkeeping costs ~10-15% parse throughput, which is why
    the production job never enables it.
    """

    def per_doc(url, raw, row):
        o = parse(raw, track_positions=True)
        pos, ntk = o.error_positions, o.n_tokenizer_errors
        tok = pos[0] if ntk else ("", 0, 0)
        tree = pos[ntk] if len(pos) > ntk else ("", 0, 0)
        return [(*tok, *tree, len(pos))]

    return _map_pages(pages_df, POSITIONS_SCHEMA, per_doc,
                      ("error", -1, -1, "error", -1, -1, -1))


MAIN_CONTENT_SCHEMA = ("url string, main_text string, n_dropped long, "
                       "main_chars long, body_chars long")


def extract_main_content(pages_df):
    """Boilerplate-stripped main-content extraction (north_rule: "HTML
    boilerplate strip, DOM heuristics"): parse, pick the content root
    (<main> > <article> > body — engine/extractor.py::
    select_content_root), drop BOILERPLATE_TAGS subtrees, and emit the
    remaining textContent plus audit counters (dropped-subtree count,
    main vs full-body char counts — the boilerplate ratio a curation
    pipeline filters on)."""

    def per_doc(url, raw, row):
        doc = parse(raw).document
        main, dropped = extract_main_text(doc)
        return [(main, dropped, len(main), len(extract_body_text(doc)))]

    return _map_pages(pages_df, MAIN_CONTENT_SCHEMA, per_doc, ("", -1, -1, -1))


PDF_SCHEMA = "url string, text string, ok boolean, n_chars long"


def extract_pdf_pages(pdfs_df):
    """PDF text extraction at scale (north_rule "PDF/layout parse"):
    (url, pdf binary) -> (url, text, ok, n_chars) via the stdlib PDF
    parser (engine/pdf.py). Same isolation discipline as the HTML
    kernel: a malformed document yields ok=false, never a failed
    task. Column-pruned to (url, pdf) before the UDF."""
    from ..engine.pdf import extract_pdf_text

    def per_row(row):
        text = extract_pdf_text(bytes(row[1]) if row[1] is not None else b"")
        return [(text, True, len(text))]

    return _map_rows(pdfs_df.select("url", "pdf"), PDF_SCHEMA, per_row,
                     ("", False, 0))


TABLES_SCHEMA = ("url string, table_idx long, row_idx long, col_idx long, "
                 "is_header boolean, cell_text string")


def extract_html_tables(pages_df):
    """Structured table extraction over the corpus: (url, html) →
    one row per table cell (url, table_idx, row_idx, col_idx,
    is_header, cell_text) — the web-table mining step (WDC-style) that
    turns crawled pages into relational training rows.

    Same kernel discipline as the flagship extractor: real WHATWG
    parse per document inside an Arrow batch (the cells only exist
    AFTER foster-parenting and implied-tag insertion run — a regex
    "table scraper" gets fostered text and unclosed rows wrong),
    column-pruned input, per-doc failure isolation. Output fans OUT
    (0..n cells per page), which mapInPandas expresses naturally —
    rows yield per batch, no explode of a materialized array column,
    so a million-cell page never builds a single giant array value."""

    def per_doc(url, raw, row):
        return extract_tables(parse(raw).document)

    return _map_pages(pages_df, TABLES_SCHEMA, per_doc)
