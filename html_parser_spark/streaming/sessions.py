"""Gap-based crawl sessionization — the custom stateful streaming
operator (``applyInPandasWithState``), with a pure-Catalyst batch twin.

A *session* is a maximal run of fetches from one ``source`` whose
consecutive ``warc_ts`` gaps are ≤ ``gap_s``. The batch twin computes
it with window functions (lag → gap flags → running sum = session id)
and is fully SQL-expressible, so the driver oracle (DuckDB window
functions) value-checks the semantics; the streaming version keeps one
open session per source in group state, emits a session the moment a
new event's gap closes it, and leaves the still-open tail session in
state (the test asserts drained-stream == batch minus each source's
open tail).

At scale: state is O(sources) — a single (start, end, count) triple
per key — and the shuffle is keyed on ``source`` exactly like the
batch groupBy. Late events beyond the open session's end are handled
by the same gap rule (sessionization by event order requires
event-ordered arrival, which the crawl-drop cadence provides; a
watermark-based closer could bound reordering instead).
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame, Window, functions as F

from .ingest import _start_parquet_sink

SESSION_SCHEMA = ("source string, session_id long, n_docs long, "
                  "start_ts long, end_ts long")
_STATE_SCHEMA = "start long, end long, n long, sid long"


def batch_sessions(pages: DataFrame, gap_s: int = 3600) -> DataFrame:
    """(source, session_id, n_docs, start_ts, end_ts) via window
    functions; session_id is the 0-based ordinal per source."""
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


def _session_fn(gap_s: int, close_stale_after_s: int | None = None):
    def fn(key: Tuple[Any, ...], pdfs: Iterator[pd.DataFrame],
           state) -> Iterator[pd.DataFrame]:
        source = key[0]
        cols = ["source", "session_id", "n_docs", "start_ts", "end_ts"]
        if close_stale_after_s is not None and state.hasTimedOut:
            start, end, n, sid = state.get
            if start is None:
                # the placeholder itself expired (source silent for the
                # 10x window below): drop the state row entirely so
                # store size tracks ACTIVE sources, not every source
                # ever seen — a source returning after this long
                # restarts its ordinal at 0 (documented trade-off)
                state.remove()
                return
            # event-time expiry: the watermark passed the open
            # session's end + grace — emit the session, but keep the
            # sid counter (a placeholder state) so a source that
            # resumes crawling continues the monotonic per-source
            # ordinal instead of restarting at 0, matching
            # batch_sessions' unique (source, session_id) keys. The
            # placeholder is NOT permanent: it gets a 10x-longer
            # timeout so the state store stays bounded by active
            # sources (advisor r3: an unarmed placeholder leaks one
            # state row per source ever seen).
            state.update((None, None, 0, sid + 1))
            # anchor on the watermark (the expiry can fire long after
            # the session's own end in event time; a timeout must not
            # be behind the current watermark)
            state.setTimeoutTimestamp(
                state.getCurrentWatermarkMs()
                + 10 * close_stale_after_s * 1000)
            yield pd.DataFrame([(source, sid, n, start, end)],
                               columns=cols)
            return
        ts_all = []
        for pdf in pdfs:
            ts_all.extend(int(t) for t in pdf["ts"])
        ts_all.sort()
        if state.exists:
            start, end, n, sid = state.get
        else:
            start = end = None
            n = 0
            sid = 0
        out = []
        for t in ts_all:
            if start is None:
                start, end, n = t, t, 1
            elif t - end <= gap_s:
                end = t
                n += 1
            else:
                out.append((source, sid, n, start, end))
                sid += 1
                start, end, n = t, t, 1
        state.update((start, end, n, sid))
        if close_stale_after_s is not None and end is not None:
            state.setTimeoutTimestamp((end + close_stale_after_s) * 1000)
        if out:
            yield pd.DataFrame(out, columns=cols)

    return fn


def stream_sessions(spark, source_dir: str, output_dir: str,
                    checkpoint_dir: str, schema: str,
                    gap_s: int = 3600, available_now: bool = True,
                    close_stale_after_s: int | None = None,
                    watermark_delay: str = "1 hour"):
    """File-source streaming sessionization: one open session per
    source in group state; closed sessions emitted incrementally.

    ``close_stale_after_s`` enables event-time state expiry: a
    watermark (``watermark_delay`` behind max event time) drives
    GroupStateTimeout.EventTimeTimeout, so an open session whose end
    plus the grace period falls behind the watermark is emitted and
    its state shrunk to a sid-counter placeholder (keeping per-source
    session ordinals monotonic) — state stays bounded even for sources
    that simply stop crawling."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    src = (spark.readStream.schema(schema).parquet(source_dir)
           .select("source", "warc_ts",
                   F.col("warc_ts").cast("long").alias("ts")))
    if close_stale_after_s is not None:
        src = src.withWatermark("warc_ts", watermark_delay)
        timeout = GroupStateTimeout.EventTimeTimeout
    else:
        timeout = GroupStateTimeout.NoTimeout
    out = (src.groupBy("source")
           .applyInPandasWithState(
               _session_fn(gap_s, close_stale_after_s),
               SESSION_SCHEMA, _STATE_SCHEMA, "append", timeout))
    return _start_parquet_sink(out, output_dir, checkpoint_dir,
                               available_now)
