"""Production entry point: spark-submit-able extraction job.

Usage (cluster, from the repo root):
    sh tools/package.sh
    spark-submit --py-files dist/hps.zip \
        --conf spark.sql.execution.arrow.maxRecordsPerBatch=64 \
        --conf spark.sql.execution.arrow.maxBytesPerBatch=4194304 \
        --conf spark.sql.files.maxPartitionBytes=16777216 \
        jobs/extract_job.py \
        --input <pages table path or name> --output <output path> \
        [--plan isolate|none] [--no-resume] [--spans]

Partitioning: normal documents stay on their scan splits; with the
default ``--plan isolate`` the documents over 1 MiB shuffle by url
hash into one wave of giant partitions, one per core
(``defaultParallelism``).

Input modes (mutually exclusive): --input (pages parquet path or
catalog table), --warc-input (parquet of (warc_id, warc binary) WARC
blobs — record-walked into pages first), --synth (sandbox corpus
synthesis from a testdata dir).

Usage (sandbox smoke from the repo root, synthesizes pages from a
testdata dir's documents table; nothing installs the package, so the
repo root goes on ``PYTHONPATH``):
    PYTHONPATH=. python jobs/extract_job.py --synth <testdata>/sf0.001 \
        --output /tmp/hps_out

The job is idempotent/resumable: every run anti-joins the source
against already-committed output urls and appends only the remainder
(north rule: "resumable from checkpoint with per-partition lineage +
metrics"). The run report (docs, bytes, errors, truncated, failed,
partitions), observed on the write itself, prints as one JSON line.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="pages table: parquet path or "
                                     "catalog table name (url, warc_ts, "
                                     "html, text, lang)")
    src.add_argument("--synth", help="synthesize pages from this testdata "
                                     "dir's documents.parquet instead")
    src.add_argument("--warc-input",
                     help="ingest WARC blobs instead: parquet of "
                          "(warc_id, warc binary) — records are walked "
                          "into (url, warc_ts, html) before extraction")
    ap.add_argument("--output", required=True)
    ap.add_argument("--plan", default="isolate",
                    choices=["isolate", "none"],
                    help="isolate: documents over 1 MiB shuffle into one "
                         "partition per core; none: scan splits only")
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--spans", action="store_true",
                    help="emit element spans (larger output)")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from html_parser_spark.plans.pipeline import configure, run_extraction
    from html_parser_spark.sources.pages import pages_df

    # under spark-submit a session already exists (getOrCreate attaches);
    # standalone it builds a local one
    spark = configure(SparkSession.builder.getOrCreate()
                      if SparkSession.getActiveSession() else None)
    spark.sparkContext.setLogLevel("WARN")

    if args.synth:
        pages = pages_df(spark, args.synth)
    elif args.warc_input:
        from html_parser_spark.sources.warc import warc_records
        pages = warc_records(spark.read.parquet(args.warc_input))
    elif args.input and "/" in args.input:
        pages = spark.read.parquet(args.input)
    elif args.input:
        pages = spark.table(args.input)
    else:
        ap.error("one of --input/--synth/--warc-input is required")

    report = run_extraction(spark, pages, args.output,
                            resume=not args.no_resume,
                            with_spans=args.spans, plan=args.plan)
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
