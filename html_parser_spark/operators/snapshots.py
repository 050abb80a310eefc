"""Re-crawl snapshot diffing (CDC over two crawls of the same sites).

A production crawl store is append-mostly: each re-crawl lands a new
snapshot of (url, html). Downstream pipelines only want to re-parse
what actually changed — at 10^12 documents, re-extracting the ~90% of
pages whose bytes are identical to the previous crawl is the single
largest avoidable cost in the system. ``snapshot_diff`` computes the
per-url change status between two snapshots:

- ``unchanged`` — url in both, identical content bytes
- ``changed``   — url in both, content differs
- ``new``       — url only in the newer snapshot
- ``gone``      — url only in the older snapshot

Scale shape: both sides are projected to ``(url, md5(content))``
**before** the join, so the full-outer join shuffles 16-byte digests,
never page bytes — the same narrow-in-bytes discipline as
``operators/dedup.py``. One co-partitioned exchange pair on ``url``;
no skew surface (urls are unique per snapshot by construction; the
composed queries enforce it upstream). On a real Iceberg store the
old side would be the table's previous snapshot and the new side an
incremental read — the comparison plan is identical.

The typical follow-up is ``changed/new`` urls → the extract pipeline
(``plans/pipeline.py``) and ``gone`` urls → tombstones, making every
re-crawl an incremental parse instead of a full 100 TB pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def snapshot_diff(old: DataFrame, new: DataFrame, key: str = "url",
                  content_col: str = "html") -> DataFrame:
    """(url, status) change classification between two crawl snapshots.

    ``old``/``new`` carry at least ``key`` and ``content_col``; the
    content column may be binary or string (md5 accepts both) and may
    be NULL (a failed fetch recorded with an empty body): presence is
    tracked by explicit flags, and NULL contents compare null-safely
    (NULL→NULL is ``unchanged``, NULL→bytes is ``changed``). The
    caller guarantees ``key`` is unique within each snapshot (true for
    crawl stores keyed by url).
    """
    # explicit presence flags: a NULL content cell (a crawl store may
    # record a failed fetch as a NULL body) must read as a present row
    # with a NULL digest, not as row absence — digest nullness alone
    # would tombstone live urls
    a = old.select(F.col(key), F.md5(F.col(content_col)).alias("h_old"),
                   F.lit(True).alias("in_old"))
    b = new.select(F.col(key), F.md5(F.col(content_col)).alias("h_new"),
                   F.lit(True).alias("in_new"))
    j = a.join(b, key, "full_outer")
    status = (F.when(F.col("in_new").isNull(), F.lit("gone"))
               .when(F.col("in_old").isNull(), F.lit("new"))
               .when(F.col("h_old").eqNullSafe(F.col("h_new")),
                     F.lit("unchanged"))
               .otherwise(F.lit("changed")))
    return j.select(F.col(key), status.alias("status"))
