"""The production extraction pipeline plan.

North-rule shape (BASELINE.json): Iceberg-table-in → explicit
url-hash repartition with salting for skewed giant documents →
vectorized parse/extract → checkpointed Iceberg-table-out with
per-partition lineage + metrics, resumable from the last committed
snapshot, scaling ≥0.8 efficiency from N to 4N executors.

In-sandbox the Iceberg catalog is stood in for by parquet directories
(the plan's dataflow — snapshot-dedup anti-join, atomic append, lineage
columns — is identical; swap ``format("parquet")`` for
``format("iceberg")`` + a catalog on a real cluster).

Why each piece exists at 10^12-document scale:

- ``skew_isolate``, ``run_extraction``'s plan and the only skew plan
  (sources arrive well partitioned, and ``incremental_extract`` parses
  on its url join's partitions): html sizes are Zipf-ish, and
  AQE skew handling only rebalances *joins/aggs*, not ``mapInPandas``;
  so only the multi-MB giant documents shuffle, into their own fine
  partitions, while the rest stay on their byte-bounded scan splits.
- ``resume_filter``: a left **anti join** of the source against the
  already-committed output keys. On Iceberg this reads only the
  ``url`` column of committed snapshots (column pruning), and Spark
  broadcast-joins it when small or shuffle-joins both sides when not —
  either way the re-run never re-parses committed documents.
- the run report: ``DataFrame.observe`` on the written frame sums the
  counters inside the write's own tasks (no re-read, no groupBy job).
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from ..operators.extract import extract_pages

BIG_DOC_BYTES = 1 << 20  # 1 MiB: the giant-document size boundary


def configure(builder_or_spark=None, cpus: int | None = None):
    """Build (or tune) a SparkSession for the extraction workload.

    - ``local[cpus]``: ``cpus``, else ``SPARK_GRAFT_CPUS``, else the
      cores this process may run on (what ``nproc`` reports).
    - Arrow batches capped at 64 docs and 4 MiB (cells are MB-scale: a
      one-wave giant partition would batch a dozen giants).
    - AQE on: runtime coalescing of the post-shuffle partitions.
    - ``files.maxPartitionBytes`` at 16 MB (see below); on Iceberg use
      the table's split size.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS") or 0) \
        or len(os.sched_getaffinity(0))
    b = builder_or_spark or SparkSession.builder
    if isinstance(b, SparkSession):
        return b
    return (b.master(f"local[{cpus}]")
            .appName("html-parser-spark")
            # deterministic timestamp semantics for the window oracles
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.sql.shuffle.partitions", str(max(2 * cpus, 8)))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
            .config("spark.sql.execution.arrow.maxBytesPerBatch",
                    str(4 << 20))
            # html cells are KB-MB and the per-byte python parse cost is
            # ~100× a columnar scan's, so the default 128 MB splits leave
            # the scan/shuffle-map stage under-parallelized: a 16 MB split
            # still amortizes parquet open cost but keeps every core busy
            .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
            # v2 committer: task-side renames, O(1) driver-side job commit
            # (v1's serial driver rename of hundreds of task files becomes
            # the scaling bottleneck once the parse itself is fast)
            .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
            .config("spark.python.worker.reuse", "true")
            .config("spark.driver.memory",
                    os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
            .getOrCreate())


def skew_isolate(pages: DataFrame, giant_partitions: int) -> DataFrame:
    """Shuffle only the skew tail (the default plan).

    Normal documents stay on their scan splits — with
    ``files.maxPartitionBytes`` at 16 MB the per-task byte-weight is
    already bounded, and an embarrassingly-parallel parse needs no
    co-location — so <1% of corpus bytes move. Giant documents (the
    straggler risk: several multi-MB docs clumped in one split) spread
    over ``giant_partitions`` by a deterministic url-hash shuffle —
    one wave, a partition per core, in ``run_extraction``: each extra
    Python task costs ~0.04 s of worker CPU before it sees a row
    (``local[3]``, 4-core host; a trivial row-driver operator at 30
    versus 3 partitions, 36-42 ms median per extra task). At
    100 TB this is the difference between shuffling 100 TB and
    shuffling <1 TB.

    Costs one extra scan of the source (two filters); scans are cheap
    relative to the parse, and on Iceberg the giant side could instead
    be planned from file/row-group size metadata without a second pass.
    """
    h = F.xxhash64("url")
    giants = (pages.filter(F.length("html") > BIG_DOC_BYTES)
              .repartition(giant_partitions, h))
    normal = pages.filter(F.length("html") <= BIG_DOC_BYTES)
    return normal.unionByName(giants)


def resume_filter(pages: DataFrame, output_path: str) -> DataFrame:
    """Drop documents whose url is already committed at output_path
    (checkpoint resume — snapshot-based, not streaming). Only a missing
    path reads as "nothing committed"; read errors propagate. The
    first run asks the filesystem, not the reader: a read of the
    missing path would fail a SQL query and log its trace each time."""
    if not _exists(pages.sparkSession, output_path):  # first run
        return pages
    return pages.join(_committed(pages.sparkSession, output_path), "url",
                      "left_anti")


def _exists(spark: SparkSession, path: str) -> bool:
    """Whether ``path`` exists, through the session's Hadoop
    ``FileSystem`` (any scheme the writer takes)."""
    jpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    return jpath.getFileSystem(conf).exists(jpath)


def _committed(spark: SparkSession, output_path: str) -> DataFrame:
    """The committed urls through an explicit schema: no schema-inference
    job, and files of any earlier version of the job still read."""
    return spark.read.schema("url string").parquet(output_path)


def incremental_extract(old: DataFrame, new: DataFrame,
                        old_extracted: DataFrame) -> DataFrame:
    """Re-crawl incremental extraction — parse only what changed.

    Given the previous crawl snapshot ``old``, the fresh snapshot
    ``new`` (both ``(url, html)``), and the committed extraction of
    the previous crawl ``old_extracted`` (``(url, text)`` — on a real
    store, the output table ``run_extraction`` wrote), produce the
    full ``(url, text)`` extraction of the NEW snapshot while running
    the parse kernel only over ``changed ∪ new`` urls:

    - ``operators.snapshots.snapshot_diff`` classifies urls by
      16-byte content digests (the diff itself shuffles digests, not
      page bytes; the tiny (url, status) result is materialized once
      via eager localCheckpoint because three consumers branch off
      it);
    - changed/new pages go through the parse kernel on the partitions
      the url join gives them (a shuffle join hashes them on url, a
      broadcast join keeps the streamed side's partitions); no second
      skew plan is stacked on top;
    - unchanged urls carry their committed text forward with one
      url equi-join (digest equality guarantees byte-identical html,
      and the extractor is a pure function of the bytes). An
      unchanged url MISSING from ``old_extracted`` — the previous run
      crashed between crawl commit and extraction commit, exactly the
      partial-commit case the resume machinery exists for — is routed
      into the parse set instead of being silently dropped;
    - ``gone`` urls simply drop out.

    At a ~90%-unchanged re-crawl the parse kernel — the actual cost —
    runs over ~10% of bytes. The work-list ⋈ new-snapshot join is an
    equi-join on url: broadcast when the change set is small, and
    shuffle-free at 10^12 docs only if the crawl store is bucketed by
    url (``write_bucketed``) — on an unbucketed store it degrades to
    one corpus-sized exchange of the NEW snapshot, still strictly
    cheaper than the full parse it replaces, but it is that layout,
    not this operator, that keeps page bytes off the wire.
    """
    from ..operators.snapshots import snapshot_diff

    # eager localCheckpoint, not persist(): three consumers branch off
    # the tiny (url, status) diff, so it must materialize once — but a
    # CacheManager-pinned persist() leaks the block until an explicit
    # unpersist nobody downstream can safely issue (the returned plan
    # still references it). RDD-level checkpoint blocks are released
    # by the ContextCleaner when the frame is garbage-collected.
    diff = snapshot_diff(old, new).localCheckpoint(eager=True)
    keep = diff.where(F.col("status") == "unchanged").select("url")
    committed_urls = old_extracted.select("url")
    missing = keep.join(committed_urls, "url", "left_anti")
    work = (diff.where(F.col("status").isin("changed", "new"))
            .select("url")
            .unionByName(missing))
    to_parse = new.select("url", "html").join(work, "url")
    parsed = extract_pages(to_parse, with_spans=False).select("url", "text")
    carried = old_extracted.select("url", "text").join(keep, "url")
    return parsed.unionByName(carried)


def run_extraction(spark: SparkSession, pages: DataFrame, output_path: str,
                   resume: bool = True, with_spans: bool = True,
                   plan: str = "isolate") -> dict:
    """End-to-end job: resume-filter → skew-aware partitioning →
    extract → atomic append → run report. Returns the report dict.

    ``plan``: "isolate" (default — shuffle only giant docs, into one
    wave of ``defaultParallelism`` partitions) or "none" (trust scan
    splits). For url co-location downstream, write the output with
    :func:`write_bucketed`.
    """
    if plan not in ("isolate", "none"):
        raise ValueError(f"unknown plan {plan!r}")
    if resume:
        pages = resume_filter(pages, output_path)
    parted = pages if plan == "none" else skew_isolate(
        pages, spark.sparkContext.defaultParallelism)
    # run_id tags the rows THIS run wrote; the committed table holds
    # earlier runs too (whole-table totals are a separate field)
    rid = uuid.uuid4().hex
    obs = Observation()
    result = (extract_pages(parted, with_spans=with_spans)
              .withColumn("run_id", F.lit(rid))
              .observe(obs, *report_aggs()))
    t0 = time.monotonic()
    result.write.mode("append").parquet(output_path)
    wall = time.monotonic() - t0
    report = {k: int(v or 0) for k, v in obs.get.items()}  # NULL sums: 0 rows
    report["run_id"] = rid
    report["wall_s"] = round(wall, 3)
    report["table_docs"] = _table_rows_from_metadata(
        _committed(spark, output_path))
    return report


def report_aggs() -> list:
    """The run report's aggregates over extraction output rows. Observed
    on the written frame, they ride the write's own tasks. A failed
    document is the failure arm's ``n_errors = -1`` row."""
    return [F.count(F.lit(1)).alias("docs"),
            F.sum("html_bytes").alias("bytes"),
            F.sum("n_errors").alias("errors"),
            F.sum("n_tokens").alias("tokens"),
            F.sum("n_elements").alias("elements"),
            F.sum(F.col("truncated").cast("long")).alias("truncated"),
            F.count_if(F.col("n_errors") < 0).alias("failed"),
            F.approx_count_distinct("url").alias("approx_unique_urls"),
            F.approx_count_distinct("part_id").alias("partitions")]


def _table_rows_from_metadata(committed: DataFrame) -> int:
    """Whole-table row count from parquet footer metadata only — no
    data scan. A ``committed.count()`` here would re-read the entire
    output path per run, a hidden full pass over 10^12 committed rows.
    Footers carry exact row counts (sum of row-group num_rows); on an
    Iceberg catalog this becomes the current snapshot's
    ``total-records`` summary property — same O(metadata) cost.

    The file list comes from the READER (``inputFiles()``), never a
    directory walk: Spark's listing excludes ``_temporary``/``_*``
    artifacts a crashed earlier attempt may have left behind (the
    resume path exists precisely because that happens), and it works
    on any filesystem URI. Local files read their footers via
    pyarrow; non-local schemes (hdfs/s3a on a real cluster) fall back
    to a count() — correct everywhere, and on those deployments the
    Iceberg snapshot property replaces this function anyway."""
    import urllib.parse

    import pyarrow.parquet as pq

    total = 0
    for uri in committed.inputFiles():
        if uri.startswith("file:"):
            # inputFiles() returns URIs, so a path containing spaces
            # or other reserved characters arrives percent-encoded —
            # decode before handing it to the filesystem
            path = urllib.parse.unquote(uri[len("file:"):])
            while path.startswith("//"):
                path = path[1:]
        elif "://" not in uri:
            path = uri
        else:
            return committed.count()
        try:
            total += pq.ParquetFile(path).metadata.num_rows
        except (OSError, ValueError):
            # unreadable path (symlinked mount, odd escaping) OR a
            # corrupt/truncated footer — pyarrow raises ArrowInvalid,
            # which subclasses ValueError, not OSError. Fall back to
            # the scan rather than crash the run report.
            return committed.count()
    return total


def write_bucketed(df: DataFrame, table_name: str, n_buckets: int = 64,
                   key: str = "url") -> None:
    """Write the extraction output as a url-hash-bucketed (and
    per-bucket sorted) table. Downstream url-keyed work — exact dedup,
    resume anti-joins, text-hash verification joins, recrawl diffs —
    then reads pre-co-located data: Spark's bucketing metadata lets a
    join or aggregation on ``key`` skip its Exchange entirely, which
    at 10^12 rows is the difference between a metadata lookup and
    re-shuffling the whole corpus. (Parquet stand-in for the Iceberg
    table the north rule names; a catalog swap keeps the same call.)

    The repartition-by-key BEFORE the write is load-bearing: a bare
    bucketBy write makes EVERY upstream task write one file per bucket
    it touches (tasks × n_buckets files — the classic bucketed-write
    small-file explosion; ~12,800 files at 200 shuffle partitions ×
    64 buckets). Hash-repartitioning into n_buckets on the bucket key
    first means each task holds exactly one bucket → one file per
    bucket."""
    (df.repartition(n_buckets, F.col(key))
       .write
       .mode("overwrite")
       .bucketBy(n_buckets, key)
       .sortBy(key)
       .saveAsTable(table_name))  # managed: bucket metadata in the catalog
