"""Exact duplicated-substring removal (suffix-array dedup stand-in).

Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
Better") remove every substring of ≥50 tokens that occurs twice
anywhere in the corpus, via a giant suffix array. The distributed
equivalent used here: a position-tracked k-token shingle index —
a substring of ≥k tokens occurs twice iff all of its length-k windows
do, so marking every k-shingle whose key occurs ≥2 times (within OR
across docs) and removing covered tokens deletes the same content with
shingle-boundary granularity (up to k-1 boundary tokens of slack per
span — the standard trade for making the problem embarrassingly
groupable).

**Collision hardening.** Removal is destructive, so the join key is
TWO independent 60-bit md5 halves (120 bits total): at 2e13 corpus
shingles the expected number of colliding pairs is ~1e-13 — no
innocent text is deleted on a hash accident. (Candidate-generating
operators like minhash keep single 60-bit keys; they verify later,
this one acts.)

Plan shape at 100 TB:

- Shingle construction is the O(len) zip_with chain
  (functions.hashing.gram_array_col — shared with
  dedup.word_shingles), hashed per position — zero shuffle.
- The global index is ONE exchange of (h1, h2, doc_id, pos) rows —
  ~24 bytes × total corpus tokens, still cheaper than shuffling the
  text itself — with map-side partial counts; duplicated keys are a
  tiny filtered subset joined back on the same partitioning.
- Matched starts re-group per doc (second exchange, doc_id keys) and
  token coverage is a per-row HOF: token i is covered iff some
  matched start lies in [i-k+1, i].
- ``max_matches_per_doc`` caps the per-row coverage work at
  O(n_tokens × cap). The cap bounds REMOVAL, not detection: coverage
  and ``n_dup_tokens`` reflect only the first ``cap`` (sorted)
  starts, while ``n_matched_starts`` is always the uncapped total —
  so a capped doc is detectable (n_matched_starts > cap) and can be
  routed to a second pass or dropped outright.
  ``substring_dedup_overflow`` implements that route end-to-end:
  overflow docs (and only those) flow through a second bounded
  removal chunk; everything else bypasses it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.hashing import gram_array_col


def _matched_starts(docs: DataFrame, k: int, n_keep: int) -> DataFrame:
    """(doc_id, starts, n_matched_starts): per doc, the first
    ``n_keep`` (sorted) positions whose k-token window is duplicated
    anywhere in the corpus, plus the UNCAPPED total. The bounded slice
    keeps per-doc state at O(n_keep) regardless of how pathological a
    document's duplication is."""
    grams = gram_array_col(F.col("text"), k)
    # one md5 per gram, split into the two 60-bit halves (hashing
    # each half in its own transform would digest every gram twice)
    md5s = F.transform(grams, lambda s: F.md5(s.cast("binary")))
    keys = F.transform(
        md5s,
        lambda m: F.struct(
            F.conv(F.substring(m, 1, 15), 16, 10).cast("long")
            .alias("h1"),
            F.conv(F.substring(m, 16, 15), 16, 10).cast("long")
            .alias("h2")))

    pos = (docs.select("doc_id", F.posexplode(keys).alias("pos", "k"))
           .select("doc_id", "pos", F.col("k.h1").alias("h1"),
                   F.col("k.h2").alias("h2")))
    # duplicate detection as a COUNT window over the key partition:
    # one exchange of the position table total. The groupBy+self-join
    # formulation exchanges it twice (once into the agg, once into the
    # join) because shingle keys are mostly unique, so map-side partial
    # aggregation shrinks nothing — at corpus scale the second full
    # exchange costs more than the window's in-partition sort.
    from pyspark.sql import Window
    wnd = Window.partitionBy("h1", "h2")
    matched = (pos.withColumn("cnt", F.count("*").over(wnd))
               .where(F.col("cnt") >= 2)
               .select("doc_id", "pos"))
    return (matched.groupBy("doc_id")
            .agg(F.slice(F.array_sort(F.collect_list("pos")), 1,
                         n_keep).alias("starts"),
                 F.count("*").cast("long").alias("n_matched_starts")))


def _coverage_filter(starts_col, k: int):
    """HOF predicate: token i survives iff no start s in ``starts_col``
    covers it (s <= i < s + k)."""
    return lambda t, i: ~F.exists(
        starts_col, lambda s: (s <= i) & (i < s + F.lit(k)))


def substring_dedup(docs: DataFrame, k: int = 8,
                    max_matches_per_doc: int = 256) -> DataFrame:
    """(doc_id, n_matched_starts, n_dup_tokens, clean_text):
    ``clean_text`` is the document with every token covered by one of
    the first ``max_matches_per_doc`` corpus-duplicated k-token
    windows removed; ``n_dup_tokens`` counts exactly those removed
    tokens. ``n_matched_starts`` is the UNCAPPED duplicated-window
    count — compare it against the cap to find docs whose removal was
    truncated (see module doc; ``substring_dedup_overflow`` is the
    routed second pass)."""
    starts = _matched_starts(docs, k, max_matches_per_doc)
    out = docs.join(starts, "doc_id", "left")
    st = F.coalesce(F.col("starts"),
                    F.expr("array()").cast("array<int>"))
    # tokenize ONCE in a separate projection: `toks` is referenced
    # twice below (the filter and the size), and split over an MB-sized
    # text is expensive enough that CollapseProject must not inline it
    # into both call sites — a named non-cheap alias referenced more
    # than once stays a single evaluation.
    out = out.withColumn("toks", F.split(F.col("text"), " "))
    kept = F.filter(F.col("toks"), _coverage_filter(st, k))
    return out.select(
        "doc_id",
        F.coalesce("n_matched_starts", F.lit(0).cast("long"))
        .alias("n_matched_starts"),
        (F.size(F.col("toks")) - F.size(kept))
        .cast("long").alias("n_dup_tokens"),
        F.array_join(kept, " ").alias("clean_text"))


def substring_dedup_overflow(docs: DataFrame, k: int = 8,
                             max_matches_per_doc: int = 16) -> DataFrame:
    """Capped removal WITH the overflow route exercised end-to-end:
    documents whose duplicated-window count exceeds the cap (removal
    truncated in the first pass) are routed through a second removal
    pass that applies the NEXT ``cap`` starts — positions index the
    ORIGINAL token array, so the union of the two coverages equals
    removal at an effective budget of 2×cap while per-row HOF work
    stays bounded at O(n_tokens × cap) per pass. Non-overflow rows
    bypass the second pass entirely (the route is a filter + union,
    not a recompute of the whole corpus).

    Output: (doc_id, n_matched_starts [uncapped], overflow [first
    pass truncated], resolved [removal complete after two passes],
    n_dup_tokens, clean_text). Docs with n_matched_starts > 2×cap
    surface resolved=false for a further pass or an outright drop —
    detection is never capped, only removal (Lee et al. 2022
    semantics, module doc)."""
    cap = max_matches_per_doc
    starts = _matched_starts(docs, k, 2 * cap)
    base = (docs.join(starts, "doc_id", "left")
            .withColumn("st", F.coalesce(
                F.col("starts"), F.expr("array()").cast("array<int>")))
            .withColumn("toks", F.split(F.col("text"), " "))
            .withColumn("n_matched_starts", F.coalesce(
                "n_matched_starts", F.lit(0).cast("long"))))
    overflow = F.col("n_matched_starts") > cap

    # pass 1 only: first `cap` starts
    done = base.where(~overflow).withColumn(
        "kept", F.filter(F.col("toks"),
                         _coverage_filter(F.slice("st", 1, cap), k)))
    # routed second pass: both chunks over the original positions
    routed = base.where(overflow).withColumn(
        "kept", F.filter(F.col("toks"),
                         _coverage_filter(F.slice("st", 1, 2 * cap), k)))

    return done.unionByName(routed).select(
        "doc_id", "n_matched_starts",
        (F.col("n_matched_starts") > cap).alias("overflow"),
        (F.col("n_matched_starts") <= 2 * cap).alias("resolved"),
        (F.size("toks") - F.size("kept")).cast("long")
        .alias("n_dup_tokens"),
        F.array_join("kept", " ").alias("clean_text"))
