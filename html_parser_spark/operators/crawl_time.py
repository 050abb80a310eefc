"""Crawl-time aggregates over ``warc_ts``: tumbling-window document
counts and gap-based per-source sessions. Both are pure Catalyst plans
that the contract's DuckDB oracles recompute exactly (``warc_ts`` is
sha256-derived from the url).

At scale: the window count is a partial-agg shuffle keyed on the
window start (one row per window); the sessionizer is one shuffle
keyed on ``source``, like a plain groupBy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

WINDOW = "6 hours"


def crawl_window_counts(pages: DataFrame) -> DataFrame:
    """(window_start: long epoch-seconds, n_docs, html_bytes) per
    6-hour tumbling window of ``warc_ts``."""
    return (pages.groupBy(F.window("warc_ts", WINDOW).alias("w"))
            .agg(F.count("*").alias("n_docs"),
                 F.sum(F.length("html")).alias("html_bytes"))
            .select(F.unix_timestamp("w.start").alias("window_start"),
                    "n_docs", "html_bytes"))


def batch_sessions(pages: DataFrame, gap_s: int = 3600) -> DataFrame:
    """(source, session_id, n_docs, start_ts, end_ts) via window
    functions. A *session* is a maximal run of fetches from one
    ``source`` whose consecutive ``warc_ts`` gaps are ≤ ``gap_s``
    (lag → gap flags → running sum = session id); session_id is the
    0-based ordinal per source."""
    ts = F.col("warc_ts").cast("long")
    w = Window.partitionBy("source").orderBy("warc_ts")
    prev = F.lag(ts).over(w)
    new_flag = F.when(prev.isNull() | (ts - prev <= gap_s), 0) \
        .otherwise(1)
    sid = F.sum(new_flag).over(
        Window.partitionBy("source").orderBy("warc_ts")
        .rowsBetween(Window.unboundedPreceding, 0))
    return (pages
            .select("source", ts.alias("ts"), sid.alias("session_id"))
            .groupBy("source", "session_id")
            .agg(F.count("*").alias("n_docs"),
                 F.min("ts").alias("start_ts"),
                 F.max("ts").alias("end_ts"))
            .select("source", "session_id", "n_docs",
                    "start_ts", "end_ts"))
