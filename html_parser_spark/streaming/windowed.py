"""Windowed streaming aggregation over crawl timestamps.

The late-data shape of a production crawl monitor: tumbling-window doc
counts over ``warc_ts`` with a watermark bounding state. Works both as
a Structured Streaming aggregation (watermark + append mode: a window
emits once it is provably complete) and as a batch plan — the same
function builds both, so the batch twin's DuckDB oracle also pins the
streaming semantics (exactly-once file source + deterministic windows
means a drained stream must equal the batch result, which the
streaming test asserts).

At 10^12 docs: the window aggregation is a partial-agg shuffle keyed
on the window start (tiny state — one row per window), and the
watermark bounds the in-flight state to (max event time − delay), so
memory is independent of stream length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .ingest import _start_parquet_sink


def crawl_window_counts(pages: DataFrame, window: str = "6 hours",
                        watermark: str | None = "1 hour") -> DataFrame:
    """(window_start: long epoch-seconds, n_docs, html_bytes) per
    tumbling window of ``warc_ts``. Pass a streaming DataFrame for the
    watermarked streaming aggregation, a batch one for the oracle twin
    (watermark is a no-op in batch)."""
    src = pages
    if watermark is not None and pages.isStreaming:
        src = pages.withWatermark("warc_ts", watermark)
    return (src.groupBy(F.window("warc_ts", window).alias("w"))
            .agg(F.count("*").alias("n_docs"),
                 F.sum(F.length("html")).alias("html_bytes"))
            .select(F.unix_timestamp("w.start").alias("window_start"),
                    "n_docs", "html_bytes"))


def stream_window_counts(spark, source_dir: str, output_dir: str,
                         checkpoint_dir: str, schema: str,
                         window: str = "6 hours",
                         watermark: str = "1 hour",
                         available_now: bool = True):
    """File-source streaming variant; append mode (windows finalize
    past the watermark). Returns the StreamingQuery."""
    src = (spark.readStream.schema(schema).parquet(source_dir))
    agg = crawl_window_counts(src, window, watermark)
    return _start_parquet_sink(agg, output_dir, checkpoint_dir,
                               available_now)
