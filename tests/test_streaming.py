"""Structured Streaming ingestion: same kernel, checkpointed file
source/sink, exactly-once across restarts."""

from __future__ import annotations

import shutil
import tempfile

import pytest

pyspark = pytest.importorskip("pyspark")

from pyspark.sql import Window, functions as F  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from html_parser_spark.plans.pipeline import configure
    s = configure(cpus=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_stream_extract_and_resume(spark):
    from html_parser_spark.sources.pages import pages_df
    from html_parser_spark.streaming import stream_extract

    tmp = tempfile.mkdtemp(prefix="hps_stream_")
    try:
        pages = pages_df(spark, SF_DIR).cache()
        half_a = pages.filter(F.crc32("url") % 2 == 0)
        half_b = pages.filter(F.crc32("url") % 2 == 1)

        # first drop of files → drain with availableNow
        half_a.repartition(4).write.parquet(f"{tmp}/src")
        q = stream_extract(spark, f"{tmp}/src", f"{tmp}/out", f"{tmp}/ckpt")
        q.awaitTermination(120)
        n1 = spark.read.parquet(f"{tmp}/out").count()
        assert 0 < n1 < 500

        # second drop lands later → restart picks up ONLY the new files
        half_b.repartition(4).write.mode("append").parquet(f"{tmp}/src")
        q = stream_extract(spark, f"{tmp}/src", f"{tmp}/out", f"{tmp}/ckpt")
        q.awaitTermination(120)
        out = spark.read.parquet(f"{tmp}/out")
        assert out.count() == 500
        assert out.select("url").distinct().count() == 500  # exactly-once

        # extracted text identical to the batch-path goldens
        j = out.join(pages.select("url", F.col("text").alias("golden")),
                     "url")
        assert j.filter(F.col("text") != F.col("golden")).count() == 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_windowed_stream_equals_batch(spark):
    """Watermarked tumbling-window aggregation: draining the file
    stream (two drops + restart) must produce exactly the batch twin's
    windows — the closed-form-oracled crawl_window_stats result."""
    from html_parser_spark.sources.pages import pages_df, PAGES_SCHEMA
    from html_parser_spark.streaming.windowed import (crawl_window_counts,
                                                      stream_window_counts)

    tmp = tempfile.mkdtemp(prefix="hps_wstream_")
    try:
        pages = pages_df(spark, SF_DIR).cache()
        batch = {(r["window_start"], r["n_docs"], r["html_bytes"])
                 for r in crawl_window_counts(pages).collect()}

        # drops arrive in event-time order (a crawl's natural drop
        # cadence): first half-year, drain, then the second half-year
        # lands and the query restarts from the checkpoint. (Splitting
        # by hash instead would make drop 2 almost entirely late data
        # beyond the watermark — correctly discarded, but then nothing
        # matches the batch twin.)
        cut = F.lit("2025-07-01").cast("timestamp")
        pages.filter(F.col("warc_ts") < cut).repartition(4) \
            .write.parquet(f"{tmp}/src")
        q = stream_window_counts(spark, f"{tmp}/src", f"{tmp}/out",
                                 f"{tmp}/ckpt", PAGES_SCHEMA)
        q.awaitTermination(120)
        pages.filter(F.col("warc_ts") >= cut).repartition(4) \
            .write.mode("append").parquet(f"{tmp}/src")
        q = stream_window_counts(spark, f"{tmp}/src", f"{tmp}/out",
                                 f"{tmp}/ckpt", PAGES_SCHEMA)
        q.awaitTermination(120)

        got = spark.read.parquet(f"{tmp}/out")
        # append mode emits a window at most once per finalization; the
        # union of emitted windows must match the batch result exactly
        # for every window the watermark has passed. With availableNow
        # draining everything, all windows except those still within
        # the watermark of the global max event time are final.
        rows = [(r["window_start"], r["n_docs"], r["html_bytes"])
                for r in got.collect()]
        assert len(rows) == len(set(rows))  # no duplicate finalizations
        finalized = set(rows)
        missing = {w for w in batch if w not in finalized}
        # only windows near the stream's end may be unfinalized
        max_start = max(w[0] for w in batch)
        assert all(w[0] >= max_start - 6 * 3600 * 2 for w in missing), \
            f"non-tail windows missing: {sorted(missing)[:3]}"
        assert finalized <= batch  # never a wrong count
        assert len(finalized) >= len(batch) - 4
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stateful_sessionization_stream_equals_batch(spark):
    """applyInPandasWithState sessionization: closed sessions emitted
    by the drained stream (two event-time-ordered drops + checkpoint
    restart) must equal the batch twin minus each source's still-open
    tail session (which stays in state)."""
    from html_parser_spark.sources.pages import pages_df, PAGES_SCHEMA
    from html_parser_spark.streaming.sessions import (batch_sessions,
                                                      stream_sessions)

    gap = 604_800
    tmp = tempfile.mkdtemp(prefix="hps_sess_")
    try:
        pages = pages_df(spark, SF_DIR).withColumn(
            "source",
            F.regexp_extract("url", r"example\.org/([^/]+)/", 1)).cache()
        batch = {(r["source"], r["session_id"], r["n_docs"],
                  r["start_ts"], r["end_ts"])
                 for r in batch_sessions(pages, gap_s=gap).collect()}
        open_tails = {(r["source"], r["session_id"], r["n_docs"],
                       r["start_ts"], r["end_ts"])
                      for r in batch_sessions(pages, gap_s=gap)
                      .withColumn("rk", F.row_number().over(
                          Window.partitionBy("source")
                          .orderBy(F.col("session_id").desc())))
                      .filter(F.col("rk") == 1).drop("rk").collect()}

        cut = F.lit("2025-07-01").cast("timestamp")
        pages.filter(F.col("warc_ts") < cut).repartition(4) \
            .write.parquet(f"{tmp}/src")
        schema = PAGES_SCHEMA + ", source string"
        q = stream_sessions(spark, f"{tmp}/src", f"{tmp}/out",
                            f"{tmp}/ckpt", schema, gap_s=gap)
        q.awaitTermination(120)
        pages.filter(F.col("warc_ts") >= cut).repartition(4) \
            .write.mode("append").parquet(f"{tmp}/src")
        q = stream_sessions(spark, f"{tmp}/src", f"{tmp}/out",
                            f"{tmp}/ckpt", schema, gap_s=gap)
        q.awaitTermination(120)

        emitted = {(r["source"], r["session_id"], r["n_docs"],
                    r["start_ts"], r["end_ts"])
                   for r in spark.read.parquet(f"{tmp}/out").collect()}
        assert emitted == batch - open_tails, (
            f"extra={sorted(emitted - batch)[:3]} "
            f"missing={sorted(batch - open_tails - emitted)[:3]}")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_sessionization_event_time_timeout(spark):
    """Event-time state expiry: a sentinel drop far in the future
    advances the watermark past every open session's grace period, so
    ALL sessions of the real data get emitted — only the sentinel's
    own session stays open in state."""
    from html_parser_spark.sources.pages import pages_df, PAGES_SCHEMA
    from html_parser_spark.streaming.sessions import (batch_sessions,
                                                      stream_sessions)

    gap = 604_800
    tmp = tempfile.mkdtemp(prefix="hps_sesst_")
    try:
        pages = pages_df(spark, SF_DIR).withColumn(
            "source",
            F.regexp_extract("url", r"example\.org/([^/]+)/", 1)).cache()
        batch = {(r["source"], r["session_id"], r["n_docs"],
                  r["start_ts"], r["end_ts"])
                 for r in batch_sessions(pages, gap_s=gap).collect()}

        schema = PAGES_SCHEMA + ", source string"
        kw = dict(gap_s=gap, close_stale_after_s=gap,
                  watermark_delay="1 hour")
        pages.repartition(4).write.parquet(f"{tmp}/src")
        q = stream_sessions(spark, f"{tmp}/src", f"{tmp}/out",
                            f"{tmp}/ckpt", schema, **kw)
        q.awaitTermination(120)
        # sentinel: one far-future row per source pushes the watermark
        # beyond every real session's end + grace
        sentinel = (pages.groupBy("source")
                    .agg(F.max("warc_ts").alias("m"))
                    .select("source",
                            (F.col("m") + F.expr("INTERVAL 1000 DAYS"))
                            .alias("warc_ts"))
                    .withColumn("url", F.lit("sentinel"))
                    .withColumn("html", F.lit(b""))
                    .withColumn("text", F.lit(""))
                    .withColumn("lang", F.lit("en"))
                    .select("url", "warc_ts", "html", "text", "lang",
                            "source"))
        sentinel.write.mode("append").parquet(f"{tmp}/src")
        q = stream_sessions(spark, f"{tmp}/src", f"{tmp}/out",
                            f"{tmp}/ckpt", schema, **kw)
        q.awaitTermination(120)
        # one more empty-ish trigger so timeouts registered in the
        # previous batch fire against the advanced watermark
        sentinel.withColumn(
            "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 DAY")) \
            .write.mode("append").parquet(f"{tmp}/src")
        q = stream_sessions(spark, f"{tmp}/src", f"{tmp}/out",
                            f"{tmp}/ckpt", schema, **kw)
        q.awaitTermination(120)

        emitted = {(r["source"], r["session_id"], r["n_docs"],
                    r["start_ts"], r["end_ts"])
                   for r in spark.read.parquet(f"{tmp}/out").collect()}
        assert batch <= emitted, \
            f"missing after timeout: {sorted(batch - emitted)[:3]}"
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_sessionization_sid_monotonic_after_expiry(spark):
    """Regression (round-3 ADVICE): after an event-time timeout emits a
    source's open session, the sid counter must survive in state — a
    source that resumes crawling continues its per-source ordinal
    (0, 1, ...) instead of restarting at 0, so emitted (source,
    session_id) keys stay unique like batch_sessions'."""
    import datetime as dt

    from html_parser_spark.sources.pages import PAGES_SCHEMA
    from html_parser_spark.streaming.sessions import stream_sessions

    def drop(path, src, *ts_vals):
        rows = [("u", dt.datetime.fromtimestamp(t, dt.timezone.utc),
                 b"", "", "en", src) for t in ts_vals]
        spark.createDataFrame(
            rows, PAGES_SCHEMA + ", source string") \
            .write.mode("append").parquet(path)

    gap = 100
    tmp = tempfile.mkdtemp(prefix="hps_sessmono_")
    kw = dict(gap_s=gap, close_stale_after_s=gap,
              watermark_delay="0 seconds")
    schema = PAGES_SCHEMA + ", source string"
    try:
        def run():
            q = stream_sessions(spark, f"{tmp}/src", f"{tmp}/out",
                                f"{tmp}/ckpt", schema, **kw)
            q.awaitTermination(120)

        base = 1_000_000_000  # keep fromtimestamp in range everywhere
        drop(f"{tmp}/src", "a", base, base + 10)      # opens a#0
        drop(f"{tmp}/src", "b", base)
        run()
        # advance the watermark far past a#0's end+grace via b only
        drop(f"{tmp}/src", "b", base + 10_000_000)
        run()
        # this batch starts with watermark >= base+10M: a's timeout
        # fires (no a data) -> emits a#0, keeps sid counter in state
        drop(f"{tmp}/src", "b", base + 10_000_050)
        run()
        # a resumes: must open session #1, not restart at #0
        drop(f"{tmp}/src", "a", base + 20_000_000)
        run()
        # expire a#1 the same way to observe it
        drop(f"{tmp}/src", "b", base + 90_000_000)
        run()
        drop(f"{tmp}/src", "b", base + 90_000_050)
        run()

        a_sessions = sorted(
            (r["session_id"], r["start_ts"], r["n_docs"])
            for r in spark.read.parquet(f"{tmp}/out")
            .filter(F.col("source") == "a").collect())
        assert a_sessions == [(0, base, 2),
                              (1, base + 20_000_000, 1)], a_sessions
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_recrawl_parses_only_changes(spark):
    """Streaming re-crawl CDC: the stream-static digest join routes
    exactly changed∪new pages into the parse; unchanged pages are
    dropped in-flight; extracted text is byte-identical to the golden
    column (the planted mutation is a trailing comment)."""
    import __spark_entry__ as entry
    from html_parser_spark.sources.pages import pages_df
    from html_parser_spark.streaming import stream_recrawl

    tmp = tempfile.mkdtemp(prefix="hps_recrawl_")
    try:
        pages = pages_df(spark, SF_DIR).cache()
        pages.repartition(4).write.parquet(f"{tmp}/old")
        # snapshot B (same closed-form rules as the batch contract
        # query), widened back to the full pages schema for the drop
        snap_b = (entry._snapshot_b(pages.select("url", "html"))
                  .withColumn("warc_ts",
                              F.lit("2025-06-01").cast("timestamp"))
                  .withColumn("text", F.lit(""))
                  .withColumn("lang", F.lit("en"))
                  .select("url", "warc_ts", "html", "text", "lang"))
        snap_b.repartition(4).write.parquet(f"{tmp}/new")

        did = F.regexp_extract("url", r"doc(\d{8})\.html", 1).cast("long")
        # committed extraction missing ONE unchanged url — the
        # partial-commit crash case; that url must be parsed anyway
        unchanged = pages.where((did % 17 != 5) & (did % 5 != 0))
        hole = unchanged.select("url").orderBy("url").first()["url"]
        (pages.where(F.col("url") != hole).select("url", "text")
         .write.parquet(f"{tmp}/committed"))

        q = stream_recrawl(spark, f"{tmp}/new", f"{tmp}/old",
                           f"{tmp}/out", f"{tmp}/ckpt",
                           committed_dir=f"{tmp}/committed")
        q.awaitTermination(180)

        exp = (pages.where((did % 17 != 5)
                           & ((did % 5 == 0) | (F.col("url") == hole)))
               .select("url", "text")
               .unionByName(
                   pages.where(did % 19 == 7)
                   .select(F.concat("url", F.lit("?v=2")).alias("url"),
                           "text")))
        got = spark.read.parquet(f"{tmp}/out").select("url", "text")
        assert got.count() == exp.count()
        assert got.join(exp, ["url", "text"]).count() == exp.count()
        pages.unpersist()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_extract_dedup_suppresses_in_window_duplicates(spark):
    """stream_extract(dedup_watermark=...): exact duplicates (same html bytes under a
    different url) arriving within the watermark window are parsed and
    emitted once; distinct payloads all survive; the dedup state key
    is content, not url."""
    from html_parser_spark.sources.pages import pages_df
    from html_parser_spark.streaming import stream_extract

    tmp = tempfile.mkdtemp(prefix="hps_sdedup_")
    try:
        pages = pages_df(spark, SF_DIR).filter(
            F.crc32("url") % 5 == 0).cache()
        n_uniq = pages.count()
        # mirror every page under a second url with identical bytes
        # and an identical event time (inside any watermark window)
        mirrored = pages.withColumn(
            "url", F.concat(F.col("url"), F.lit("?mirror=1")))
        both = pages.unionByName(mirrored)
        both.repartition(4).write.parquet(f"{tmp}/src")

        q = stream_extract(spark, f"{tmp}/src", f"{tmp}/out",
                           f"{tmp}/ckpt", dedup_watermark="1 hour")
        q.awaitTermination(120)
        out = spark.read.parquet(f"{tmp}/out")
        assert out.count() == n_uniq  # every duplicate suppressed
        # each surviving row is one of the two urls of its content
        golden = pages.select(F.col("text").alias("g")).distinct()
        j = out.join(golden, out["text"] == golden["g"], "left_anti")
        assert j.count() == 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_links_equals_batch_and_frontier_dedup(spark):
    """Streaming link discovery over two file drops equals the batch
    edge list exactly-once; with the frontier watermark on, each
    canonical target within one drain is emitted once."""
    from html_parser_spark.operators.links import extract_links, http_links
    from html_parser_spark.sources.pages import pages_df
    from html_parser_spark.streaming import stream_links

    tmp = tempfile.mkdtemp(prefix="hps_slinks_")
    try:
        pages = pages_df(spark, SF_DIR).cache()
        half_a = pages.filter(F.crc32("url") % 2 == 0)
        half_b = pages.filter(F.crc32("url") % 2 == 1)

        half_a.repartition(4).write.parquet(f"{tmp}/src")
        q = stream_links(spark, f"{tmp}/src", f"{tmp}/out", f"{tmp}/ckpt")
        q.awaitTermination(120)
        half_b.repartition(4).write.mode("append").parquet(f"{tmp}/src")
        q = stream_links(spark, f"{tmp}/src", f"{tmp}/out", f"{tmp}/ckpt")
        q.awaitTermination(120)

        got = {(r["url"], r["href"], r["target"], r["anchor"])
               for r in spark.read.parquet(f"{tmp}/out").collect()}
        want_df = http_links(extract_links(pages))
        want = {(r["url"], r["href"], r["target"], r["anchor"])
                for r in want_df.collect()}
        assert got == want and len(got) > 0
        # exactly-once: no duplicate edge rows across the restart
        n_rows = spark.read.parquet(f"{tmp}/out").count()
        assert n_rows == len(got)

        # frontier mode: one drain, canonical targets emitted once
        q = stream_links(spark, f"{tmp}/src", f"{tmp}/fout",
                         f"{tmp}/fckpt", frontier_watermark="1 hour")
        q.awaitTermination(120)
        front = spark.read.parquet(f"{tmp}/fout").select("canon")
        assert front.count() == front.distinct().count()
        batch_canon = {r["canon"] for r in want_df.select("canon")
                       .distinct().collect()}
        assert {r["canon"] for r in front.collect()} == batch_canon
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_warc_ingest_equals_batch(spark):
    """WARC blobs dropped incrementally: the streaming record-walk +
    parse drains both drops exactly once and lands byte-identical on
    the batch goldens."""
    from html_parser_spark.sources.pages import pages_df
    from html_parser_spark.sources.warc import pages_to_warc
    from html_parser_spark.streaming.ingest import stream_warc_ingest

    tmp = tempfile.mkdtemp(prefix="hps_warc_stream_")
    try:
        pages = pages_df(spark, SF_DIR).cache()
        sample = pages.limit(200).select("url", "warc_ts", "html").cache()
        half_a = sample.filter(F.crc32("url") % 2 == 0)
        half_b = sample.filter(F.crc32("url") % 2 == 1)

        pages_to_warc(half_a, n_files=4).write.parquet(f"{tmp}/src")
        q = stream_warc_ingest(spark, f"{tmp}/src", f"{tmp}/out",
                               f"{tmp}/ckpt")
        q.awaitTermination(120)
        n1 = spark.read.parquet(f"{tmp}/out").count()
        assert 0 < n1 < 200

        # a later WARC drop → restart processes only the new blobs
        pages_to_warc(half_b, n_files=4).write.mode("append") \
            .parquet(f"{tmp}/src")
        q = stream_warc_ingest(spark, f"{tmp}/src", f"{tmp}/out",
                               f"{tmp}/ckpt")
        q.awaitTermination(120)
        out = spark.read.parquet(f"{tmp}/out")
        assert out.count() == 200
        assert out.select("url").distinct().count() == 200  # exactly-once

        j = out.join(pages.select("url", F.col("text").alias("golden")),
                     "url")
        assert j.count() == 200
        assert j.filter(F.col("text") != F.col("golden")).count() == 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
