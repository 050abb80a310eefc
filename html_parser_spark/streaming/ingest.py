"""Streaming extraction: file-source pages → parse/extract → sink.

Same kernel as the batch path (`operators.extract.extract_pages` —
`mapInPandas` is fully supported inside Structured Streaming since the
transformation is stateless per-row), so batch and streaming share one
tested implementation. Use `available_now=True` to drain everything
currently in the source and stop (the batch-like catch-up mode); leave
it False for continuous tailing of a crawl drop directory.

At scale: the file source tracks processed files in the checkpoint, so
a restarted job resumes at the exact file offset; giant-doc skew is
bounded by `maxFilesPerTrigger` (micro-batch sizing) rather than the
batch plan's giant repartition.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..operators.extract import extract_pages
from ..sources.pages import PAGES_SCHEMA


def _start_parquet_sink(out, output_dir: str, checkpoint_dir: str,
                        available_now: bool):
    """Shared checkpointed parquet sink: one place for sink options
    (append mode, availableNow drain) across every streaming entry
    point."""
    writer = (out.writeStream
              .format("parquet")
              .option("path", output_dir)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_extract(spark: SparkSession, source_dir: str, output_dir: str,
                   checkpoint_dir: str, available_now: bool = True,
                   max_files_per_trigger: int = 8, with_spans: bool = False,
                   dedup_watermark: str | None = None):
    """Start the streaming extraction; returns the StreamingQuery.

    ``dedup_watermark`` (e.g. ``"1 hour"``) inserts an in-flight exact
    dedup stage BEFORE the parse kernel: recrawled / mirrored pages
    arriving within the watermark window are parsed and emitted once,
    keyed on the raw html's md5 (content identity — dedup_exact
    semantics). Duplicate payloads never pay the expensive parse stage
    — the right order at crawl scale — and
    ``dropDuplicatesWithinWatermark`` bounds the dedup state by the
    delay window, not the stream's history (the only state shape that
    survives an unbounded crawl)."""
    from pyspark.sql import functions as F

    src = (spark.readStream
           .schema(PAGES_SCHEMA)
           .option("maxFilesPerTrigger", str(max_files_per_trigger))
           .parquet(source_dir))
    if dedup_watermark is not None:
        src = (src
               .withColumn("html_md5", F.md5(F.col("html")))
               .withWatermark("warc_ts", dedup_watermark)
               .dropDuplicatesWithinWatermark(["html_md5"])
               .drop("html_md5"))
    out = extract_pages(src, with_spans=with_spans)
    return _start_parquet_sink(out, output_dir, checkpoint_dir,
                               available_now)


def stream_recrawl(spark: SparkSession, source_dir: str,
                   old_snapshot_dir: str, output_dir: str,
                   checkpoint_dir: str, available_now: bool = True,
                   max_files_per_trigger: int = 8,
                   committed_dir: str | None = None):
    """Streaming re-crawl CDC: as fresh crawl files land, parse ONLY
    pages whose content differs from the previous snapshot — the
    Structured-Streaming twin of ``plans.pipeline.incremental_extract``.

    Each arriving page is annotated with its content digest and
    stream-static LEFT-joined against the previous snapshot's
    ``(url, digest)`` projection (digests on both sides — page bytes
    never join); rows whose url is unknown (new) or whose digest
    changed (changed) go through the parse kernel, identical rows are
    dropped in-flight, before the expensive stage. Unchanged pages
    need no re-emission — their extraction is already committed (the
    carried side of the batch operator). Pass ``committed_dir`` (the
    committed extraction output) to make that assumption checked
    instead of trusted: unchanged pages whose url never reached the
    committed table — the previous run crashed between crawl commit
    and extraction commit — are routed into the parse, the same
    partial-commit arm as the batch twin.

    At scale the static side is the crawl store's previous-snapshot
    digest projection (an Iceberg metadata-light scan re-read per
    micro-batch — Spark's stream-static semantics — so it always
    reflects the latest committed snapshot); the file-source
    checkpoint makes the whole thing resumable at exact file offsets.
    """
    from pyspark.sql import functions as F

    old = (spark.read.parquet(old_snapshot_dir)
           .select("url", F.md5(F.col("html")).alias("h_old"),
                   F.lit(True).alias("_in_old")))
    src = (spark.readStream
           .schema(PAGES_SCHEMA)
           .option("maxFilesPerTrigger", str(max_files_per_trigger))
           .parquet(source_dir))
    ann = (src.withColumn("h_new", F.md5(F.col("html")))
           .join(old, "url", "left_outer"))
    # Null-safe change test, mirroring the batch twin snapshot_diff:
    # a url whose body flipped bytes<->NULL is CHANGED (md5(NULL) is
    # NULL, so a plain != would yield NULL and silently drop it), and
    # presence is its own flag — a brand-new url with a NULL body must
    # still route into the parse (eqNullSafe(NULL, NULL) is true).
    changed_or_new = (F.col("_in_old").isNull()
                      | ~F.col("h_old").eqNullSafe(F.col("h_new")))
    if committed_dir is not None:
        # partial-commit guard (same arm as the batch twin): an
        # unchanged page whose extraction never committed — the
        # previous run crashed between crawl commit and extraction
        # commit — must be parsed, not silently dropped
        done = (spark.read.parquet(committed_dir)
                .select("url", F.lit(True).alias("_committed")))
        ann = ann.join(done, "url", "left_outer")
        changed_or_new = changed_or_new | F.col("_committed").isNull()
        ann = ann.where(changed_or_new).drop("_committed")
    else:
        ann = ann.where(changed_or_new)
    work = ann.drop("h_old", "h_new", "_in_old")
    out = extract_pages(work, with_spans=False)
    return _start_parquet_sink(out, output_dir, checkpoint_dir,
                               available_now)


def stream_links(spark: SparkSession, source_dir: str, output_dir: str,
                 checkpoint_dir: str, available_now: bool = True,
                 max_files_per_trigger: int = 8,
                 frontier_watermark: str | None = None):
    """Streaming outlink discovery: the SAME harvest kernel as the
    batch ``extract_links`` (stateless mapInPandas is streaming-safe)
    over a checkpointed file source — a continuously-fed crawl drop
    directory yields the http(s) edge list incrementally, exactly-once
    across restarts.

    ``frontier_watermark`` (e.g. ``"1 hour"``) turns the stream into
    incremental frontier discovery: targets are deduplicated on their
    CANONICAL url within the watermark window
    (``dropDuplicatesWithinWatermark``), so each candidate is emitted
    once per delay window no matter how many pages cite it, and the
    dedup state is bounded by the window — not by crawl history (the
    only state shape that survives an unbounded crawl; the global
    have-we-crawled-it anti-join stays a batch join downstream,
    exactly like operators/links.frontier)."""
    from ..operators.links import extract_links, http_links

    src = (spark.readStream
           .schema(PAGES_SCHEMA)
           .option("maxFilesPerTrigger", str(max_files_per_trigger))
           .parquet(source_dir))
    out = http_links(extract_links(src, passthrough_cols=("warc_ts",)))
    if frontier_watermark is not None:
        out = (out.withWatermark("warc_ts", frontier_watermark)
               .dropDuplicatesWithinWatermark(["canon"]))
    return _start_parquet_sink(out, output_dir, checkpoint_dir,
                               available_now)


WARC_DROP_SCHEMA = "warc_id string, warc binary"


def stream_warc_ingest(spark: SparkSession, source_dir: str,
                       output_dir: str, checkpoint_dir: str,
                       available_now: bool = True,
                       max_files_per_trigger: int = 4):
    """Streaming WARC ingest: a crawler drops multi-record WARC blobs
    (as parquet of ``(warc_id, warc binary)``) into a directory; each
    micro-batch walks the new blobs' records and runs the SAME parse
    kernel as the batch path — record fan-out and extraction are both
    stateless per-row, so the whole chain is streaming-legal with no
    state store. The file-source checkpoint gives exactly-once blob
    processing across restarts; ``maxFilesPerTrigger`` bounds a
    micro-batch to a fixed number of WARC files, which is the natural
    unit a fetcher rotates anyway."""
    from ..sources.warc import warc_records

    src = (spark.readStream
           .schema(WARC_DROP_SCHEMA)
           .option("maxFilesPerTrigger", str(max_files_per_trigger))
           .parquet(source_dir))
    out = extract_pages(warc_records(src), with_spans=False)
    return _start_parquet_sink(out, output_dir, checkpoint_dir,
                               available_now)
