"""WARC ingest seam: the container format Common-Crawl-style corpora
actually arrive in, parsed with a stdlib-only record walker.

- :func:`build_warc` / :func:`iter_warc` — pure-Python WARC/1.0
  response-record writer and reader (ISO 28500 subset: the
  ``WARC-Type: response`` records a text pipeline consumes; request /
  metadata / revisit records are skipped, not errors). Payloads are
  the embedded HTTP response body — headers stripped at the first
  CRLFCRLF, chunked/transfer-encoding left to the fetcher as real
  crawlers do (CC WARCs store decoded bodies).

- :func:`pages_to_warc` — pages → per-bucket WARC blobs
  (``applyInPandas``: a WARC file holds MANY records, so the test
  path exercises multi-record walking, not one-blob-per-page).

- :func:`warc_records` — WARC blobs → (url, warc_ts, html) rows on
  the shared row driver (``operators/extract.py``); feed the result
  straight into ``extract_pages``.

Scale shape: both kernels are narrow Arrow-batched passes. The bucket
grouping in ``pages_to_warc`` is one hash exchange on the bucket key
(in production the fetcher already writes multi-record files — that
operator exists for synthesis/repacking); ``warc_records`` is a pure
map with per-record fan-out, and record walking is O(bytes) with no
backtracking (each Content-Length jumps to the next record), so a
pathological blob costs its size, nothing more.

No counterpart in mensbeam/HTML-Parser (it starts from bytes in
memory); this is the ingest surface in front of the parse kernel.
"""

from __future__ import annotations

from collections.abc import Iterator
from datetime import datetime

import pandas as pd

from pyspark.sql import DataFrame, functions as F

from ..operators.extract import _map_rows

WARC_TS_FMT = "%Y-%m-%dT%H:%M:%SZ"

WARC_RECORDS_SCHEMA = "url string, warc_ts timestamp, html binary"


WARC_TS_FMT_US = "%Y-%m-%dT%H:%M:%S.%fZ"  # WARC 1.1 fractional form
_EPOCH_TS = "1970-01-01T00:00:00Z"


def _format_warc_date(ts) -> str:
    """WARC-Date for a possibly-missing timestamp: the epoch sentinel
    for None/NaT (WARC-Date is mandatory), the WARC 1.1 fractional
    form when sub-second precision exists (so the pack→unpack
    round-trip is lossless), plain seconds otherwise."""
    if ts is None or ts != ts:  # NaT is not equal to itself
        return _EPOCH_TS
    if ts.microsecond:
        return ts.strftime(WARC_TS_FMT_US)
    return ts.strftime(WARC_TS_FMT)


def _ns_or_none(ts: datetime | None) -> datetime | None:
    """A parseable WARC-Date can still sit outside the datetime64[ns]
    range (year 9999), which pandas cannot hold: such a date becomes
    None, a NULL ``warc_ts``, instead of failing the batch."""
    if ts is not None and not (pd.Timestamp.min.to_pydatetime(warn=False)
                               <= ts
                               <= pd.Timestamp.max.to_pydatetime(warn=False)):
        return None
    return ts


def _clean_uri(uri: str) -> str:
    """CR/LF cannot appear raw in a WARC header line — a crawl url
    containing them would inject header fields (e.g. overwrite
    WARC-Type) and silently corrupt the record framing. Percent-escape
    exactly those two bytes; everything else passes through."""
    return uri.replace("\r", "%0D").replace("\n", "%0A")


def build_warc(records: list[tuple[str, datetime, bytes]]) -> bytes:
    """WARC/1.0 bytes for a list of (uri, fetch_time, payload)
    response records (embedded HTTP/1.1 200 response per record)."""
    out: list[bytes] = []
    for uri, ts, payload in records:
        http = (b"HTTP/1.1 200 OK\r\n"
                b"Content-Type: text/html\r\n"
                b"Content-Length: " + str(len(payload)).encode()
                + b"\r\n\r\n" + payload)
        hdr = ("WARC/1.0\r\n"
               "WARC-Type: response\r\n"
               f"WARC-Target-URI: {_clean_uri(uri)}\r\n"
               f"WARC-Date: {_format_warc_date(ts)}\r\n"
               "Content-Type: application/http;msgtype=response\r\n"
               f"Content-Length: {len(http)}\r\n\r\n").encode()
        out.append(hdr + http + b"\r\n\r\n")
    return b"".join(out)


def iter_warc(data: bytes) -> Iterator[tuple[str, datetime | None, bytes]]:
    """Walk WARC records, yielding (uri, date, http_payload) for each
    ``WARC-Type: response``. Content-Length-driven — O(len(data)),
    no scanning inside payloads. A malformed tail (truncated record,
    unparseable length) ends iteration instead of raising: ingest
    keeps every record before the corruption, the standard salvage
    semantics for crawl files."""
    pos = 0
    n = len(data)
    while pos < n:
        while data.startswith(b"\r\n", pos):
            pos += 2
        if pos >= n:
            return
        end = data.find(b"\r\n\r\n", pos)
        if end < 0:
            return
        lines = data[pos:end].decode("utf-8", "replace").split("\r\n")
        if not lines or not lines[0].startswith("WARC/"):
            return
        fields: dict[str, str] = {}
        for line in lines[1:]:
            k, _, v = line.partition(":")
            fields[k.strip().lower()] = v.strip()
        try:
            clen = int(fields["content-length"])
        except (KeyError, ValueError):
            return
        if clen < 0:
            # a negative length would move pos BACKWARDS — the same
            # phantom record would then yield forever (unbounded
            # memory in warc_records). Treat like an unparseable
            # length: salvage ends here.
            return
        block = data[end + 4:end + 4 + clen]
        if len(block) < clen:
            return  # truncated record: salvage what came before
        pos = end + 4 + clen
        if fields.get("warc-type") != "response":
            continue
        raw_date = fields.get("warc-date", "")
        ts: datetime | None = None
        for fmt in (WARC_TS_FMT, WARC_TS_FMT_US):
            try:
                ts = datetime.strptime(raw_date, fmt)
                break
            except ValueError:
                continue
        i = block.find(b"\r\n\r\n")
        payload = block[i + 4:] if i >= 0 else block
        yield fields.get("warc-target-uri", ""), ts, payload


def pages_to_warc(pages_df: DataFrame, n_files: int = 64) -> DataFrame:
    """(url, warc_ts, html) → (warc_id, warc binary): pack pages into
    ``n_files`` multi-record WARC blobs, bucketed by url hash. Records
    within a blob are ordered by url so the blob bytes are a pure
    function of the bucket's row set (deterministic across
    partitionings — the property every oracle here leans on).

    WARC-Date is mandatory, so a NULL ``warc_ts`` packs as the epoch
    sentinel ``1970-01-01T00:00:00Z`` and reads back from
    :func:`warc_records` as 1970-01-01 00:00:00, not as NULL. That
    includes a date :func:`warc_records` read as NULL because it lies
    outside the datetime64[ns] range (year 9999): repacked, it becomes
    the epoch."""

    def pack(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("url")
        # NaT → None (PAGES_SCHEMA is nullable): build_warc writes the
        # epoch sentinel instead of crashing the bucket task on
        # NaT.strftime; NULL html packs as an empty payload and a NULL
        # url as an empty WARC-Target-URI
        recs = [(u if u is not None else "",
                 None if t is pd.NaT else t.to_pydatetime(),
                 bytes(h) if h is not None else b"")
                for u, t, h in zip(pdf["url"], pdf["warc_ts"],
                                   pdf["html"])]
        return pd.DataFrame({"warc_id": [f"warc-{key[0]:05d}"],
                             "warc": [build_warc(recs)]})

    # a NULL url has a NULL crc32; coalesce it into bucket 0 so the
    # key reaching pack() is always an integer
    bucketed = pages_df.select("url", "warc_ts", "html").withColumn(
        "_b", F.coalesce(F.crc32(F.col("url")) % n_files, F.lit(0)))
    return bucketed.groupBy("_b").applyInPandas(
        pack, schema="warc_id string, warc binary")


def warc_records(warc_df: DataFrame, warc_col: str = "warc") -> DataFrame:
    """WARC blobs → one row per response record (url, warc_ts, html).
    Pure map (no shuffle); malformed blobs yield their salvageable
    prefix, never a failed task."""

    def per_row(row):
        # a NULL blob raises in bytes() and yields no row
        return [(uri, _ns_or_none(ts), payload)
                for uri, ts, payload in iter_warc(bytes(row[0]))]

    # aliased: a blob column named like an output column (say ``html``)
    # would otherwise pass through in its place
    return _map_rows(warc_df.select(warc_df[warc_col].alias("warc")),
                     WARC_RECORDS_SCHEMA, per_row)
