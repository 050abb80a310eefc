"""Line-level (paragraph-level) deduplication — boilerplate removal.

The RefinedWeb / CCNet curation step the document-level dedups cannot
express: navigation bars, cookie banners, footers and share buttons
appear as *identical lines* across thousands of pages while every page
remains globally unique, so MinHash/SimHash never fire. Line-level
dedup splits each extracted document into lines, computes each line's
corpus-wide document frequency, and removes lines that appear in more
than ``max_doc_freq`` distinct documents — from every document (the
RefinedWeb formulation; CCNet's keep-first variant is a one-line
change of the filter).

Scale shape (10^12 documents):

- lines are keyed by ``md5(line)`` (16 bytes) so the frequency shuffle
  never moves line bodies twice;
- document frequency is an exact ``countDistinct(url)`` groupBy —
  Spark's two-phase distinct aggregate condenses (h, url) pairs
  map-side, so shuffle rows ≈ distinct lines per partition, not total
  lines. (``approx_count_distinct`` is the drop-in at extreme scale;
  exact is kept here so the DuckDB oracle pins values.)
- the *banned* set (lines over the frequency threshold) is the
  heavy-hitter minority of distinct lines — it is broadcast, so the
  line table is never exchanged for the join at all. Total plan: ONE
  exchange to count frequencies + ONE exchange to reassemble
  documents.
- reassembly is ``collect_list(struct(pos, line))`` + ``array_sort``
  per document — bounded by document size, no window function.

Reference parity: this operator has no counterpart in
mensbeam/HTML-Parser (a per-document parser); it is part of the
training-data pipeline surface built on top of the extraction kernel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def split_lines(docs: DataFrame, key_col: str = "url",
                text_col: str = "text") -> DataFrame:
    """(key, pos, line, h): one row per line with its 1-based position
    and md5 hash. Narrow (explode only, no shuffle)."""
    return (docs
            .select(key_col,
                    F.posexplode(F.split(F.col(text_col), "\n"))
                    .alias("pos0", "line"))
            .select(key_col, (F.col("pos0") + 1).alias("pos"), "line",
                    F.md5(F.col("line").cast("binary")).alias("h")))


def line_doc_freq(lines: DataFrame, key_col: str = "url") -> DataFrame:
    """(h, df): per-line-hash count of distinct documents containing
    the line. One exchange (two-phase distinct aggregate)."""
    return (lines.groupBy("h")
            .agg(F.countDistinct(key_col).cast("long").alias("df")))


def line_dedup(docs: DataFrame, key_col: str = "url",
               text_col: str = "text", max_doc_freq: int = 2) -> DataFrame:
    """Remove lines appearing in more than ``max_doc_freq`` distinct
    documents. Returns one row per input document:

      (key, n_lines, n_removed, clean_text)

    ``clean_text`` is the surviving lines re-joined with ``\\n`` in
    original order ('' when every line was boilerplate — a sentinel,
    never NULL, so downstream comparators stay total)."""
    lines = split_lines(docs, key_col, text_col)
    banned = (line_doc_freq(lines, key_col)
              .filter(F.col("df") > max_doc_freq)
              .select("h", F.lit(True).alias("_ban")))
    flagged = lines.join(F.broadcast(banned), "h", "left")
    keep = F.col("_ban").isNull()
    return (flagged.groupBy(key_col)
            .agg(F.count("*").cast("long").alias("n_lines"),
                 F.sum(F.when(~keep, 1).otherwise(0)).cast("long")
                 .alias("n_removed"),
                 F.coalesce(
                     F.array_join(
                         F.transform(
                             F.array_sort(F.collect_list(
                                 F.when(keep, F.struct("pos", "line")))),
                             lambda s: s["line"]),
                         "\n"),
                     F.lit("")).alias("clean_text")))
