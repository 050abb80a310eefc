"""Deduplication operators for training-data pipelines.

Four strategies, all pure DataFrame/Catalyst (JVM-side, no Python in the
hot path), each with a DuckDB-oracle twin in ``__spark_entry__.py``:

- **exact**: hash-groupBy on the full text. One shuffle, map-side
  partial agg; at 10^12 docs group on ``md5(text)`` (16 bytes) instead
  of the text itself so shuffle rows stay tiny.
- **n-gram Jaccard**: word-3-gram shingles → inverted-index self-join on
  shingle → per-pair intersection counts → integer-arithmetic Jaccard
  threshold. The shingle join is the scalable formulation (no O(n²)
  cross join; candidate pairs only where shingles actually collide).
- **MinHash + LSH**: 16 universal hashes over shingle base-hashes →
  8 bands × 2 rows → band-bucket self-join. At scale this replaces the
  full inverted index with O(bands × docs) shuffle rows; skewy bands
  (e.g. boilerplate-heavy shingles) can be salted or frequency-capped
  upstream.
- **SimHash**: 48-bit sign-aggregated fingerprint; near-dup pairs via
  the pigeonhole band index (radius h → h+1 bands; one band must match
  exactly) equi-joined on band value, then exact Hamming post-filter.

All hashing is md5-based (``functions.hashing``) so the oracle can
reproduce values bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.hashing import (BANDS, MINHASH_A, MINHASH_B, NUM_HASHES,
                                 P31, ROWS_PER_BAND, SIMHASH_BITS,
                                 minhash_term, spark_base_hash)


def exact_dedup_groups(docs: DataFrame) -> DataFrame:
    """Groups of byte-identical documents: (kept_doc_id, n_copies),
    keeping the smallest doc_id per group. Only groups with >1 copy."""
    return (docs
            .groupBy(F.md5(F.col("text").cast("binary")).alias("text_md5"))
            .agg(F.min("doc_id").alias("kept_doc_id"),
                 F.count("*").alias("n_copies"))
            .filter(F.col("n_copies") > 1)
            .select("kept_doc_id", "n_copies"))


def word_shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, gram) — distinct word n-gram shingles per document.
    Pure Catalyst higher-order functions; genuinely ZERO shuffle: the
    per-document dedup is ``array_distinct`` on the gram array *before*
    the explode (explode is per-row, so array-level distinct ==
    global ``(doc_id, gram)`` distinct), not a ``.distinct()`` — a
    global distinct would hash-exchange every gram of every training
    document, exactly the whole-corpus shuffle callers like
    ``contamination_flags`` exist to avoid."""
    # O(len) construction: zip n shifted views of the word array
    # (the transform+slice formulation re-slices per position — O(len²)
    # per document, 3× slower measured at sf0.1); one shared copy in
    # functions.hashing so substrings.substring_dedup can't drift
    from ..functions.hashing import gram_array_col
    grams = gram_array_col(F.col("text"), n)
    return docs.select(
        "doc_id", F.explode(F.array_distinct(grams)).alias("gram"))


def capped_keys(df: DataFrame, key_col: str,
                max_doc_freq: int | None) -> DataFrame:
    """Hot-key skew control shared by every inverted-index self-join
    (jaccard/containment shingles, plagiarism fingerprints): drop keys
    present in more than ``max_doc_freq`` rows BEFORE the self-join,
    bounding any join key's fan-out to ``max_doc_freq²`` pairs. This
    is the literature's standard stop-shingle filter — sizes computed
    downstream use the capped sets, so threshold semantics stay exact
    and oracle-reproducible."""
    if max_doc_freq is None:
        return df
    keep = (df.groupBy(key_col)
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") <= max_doc_freq)
            .select(key_col))
    return df.join(keep, key_col)


def _pair_candidates(docs: DataFrame, n: int,
                     max_doc_freq: int | None) -> DataFrame:
    """Shared candidate generation for the set-similarity pair
    operators: capped shingle inverted index → self-join →
    (doc_a, doc_b, inter, na, nb) with doc_a < doc_b. Jaccard and
    containment differ only in the final threshold direction."""
    g = capped_keys(word_shingles(docs, n), "gram", max_doc_freq)
    sizes = g.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    a, b = g.alias("a"), g.alias("b")
    inter = (a.join(b, (F.col("a.gram") == F.col("b.gram"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .groupBy(F.col("a.doc_id").alias("doc_a"),
                      F.col("b.doc_id").alias("doc_b"))
             .agg(F.count("*").cast("long").alias("inter")))
    sa = sizes.select(F.col("doc_id").alias("doc_a"),
                      F.col("n_grams").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"),
                      F.col("n_grams").alias("nb"))
    return inter.join(sa, "doc_a").join(sb, "doc_b")


def jaccard_pairs(docs: DataFrame, n: int = 3, min_pct: int = 60,
                  max_doc_freq: int | None = None) -> DataFrame:
    """Near-duplicate pairs by word-n-gram Jaccard ≥ min_pct/100.

    Integer-only arithmetic (``100*inter >= min_pct*union``) so the
    result is exactly reproducible by the SQL oracle. Shape: inverted
    index join on shingle — the standard scalable plan (shuffle keyed
    on gram).

    ``max_doc_freq`` is the hot-key skew control for the 10^12-doc
    plan: shingles occurring in more than that many documents
    (boilerplate n-grams — "all rights reserved") are dropped from the
    index *before* the self-join, bounding any join key's fan-out to
    ``max_doc_freq²`` pairs. Union sizes are computed on the capped
    shingle sets, so the threshold semantics stay exact and
    oracle-reproducible (this is the SimHash/MinHash literature's
    standard stop-shingle filter, not an approximation bolted on)."""
    return (_pair_candidates(docs, n, max_doc_freq)
            .withColumn("union_", F.col("na") + F.col("nb") - F.col("inter"))
            .filter(100 * F.col("inter") >= min_pct * F.col("union_"))
            .select("doc_a", "doc_b", "inter",
                    F.col("union_").alias("union_grams")))


def containment_pairs(docs: DataFrame, n: int = 3, min_pct: int = 80,
                      max_doc_freq: int | None = None) -> DataFrame:
    """Asymmetric near-superset detection: ordered pairs where the
    n-gram containment ``|A∩B| / |A|`` reaches ``min_pct`` percent —
    the Broder containment measure. This catches what symmetric
    Jaccard structurally cannot: a short document wholly quoted inside
    a much longer one has tiny Jaccard (the union is dominated by the
    container) but containment 100%. Standard curation use: drop the
    contained page, keep the superset.

    Returns (doc_contained, doc_container, inter, n_contained) — both
    directions of each unordered pair are tested independently, so a
    mutual-80% pair yields two rows.

    Integer-only threshold (``100*inter >= min_pct*n_contained``) for
    oracle exactness. Same inverted-index plan and ``max_doc_freq``
    hot-shingle cap as ``jaccard_pairs`` — the candidate generation is
    shared shape; only the final filter direction differs, so the
    incremental cost over a Jaccard pass is nil."""
    joined = _pair_candidates(docs, n, max_doc_freq)
    # both directions in ONE pass over the candidate table: a union of
    # two filtered branches would re-evaluate the entire inverted-index
    # self-join lineage per branch (measured 26 exchanges vs 13) — the
    # recurring double-evaluation gotcha. The 2-element explode is a
    # narrow row-doubling of the tiny pair table instead.
    fwd = F.col("_dir") == 0
    contained_size = F.when(fwd, F.col("na")).otherwise(F.col("nb"))
    return (joined
            .select("*", F.explode(F.array(F.lit(0), F.lit(1)))
                    .alias("_dir"))
            .where(100 * F.col("inter") >= min_pct * contained_size)
            .select(F.when(fwd, F.col("doc_a")).otherwise(F.col("doc_b"))
                    .alias("doc_contained"),
                    F.when(fwd, F.col("doc_b")).otherwise(F.col("doc_a"))
                    .alias("doc_container"),
                    "inter",
                    contained_size.cast("long").alias("n_contained")))


def minhash_signatures(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, sig_0..sig_{k-1}) MinHash signatures over word shingles.
    Docs with < n words get sentinel P31 in every slot."""
    g = word_shingles(docs, n)
    # project the md5-derived base hash ONCE per shingle row; the 16
    # universal-hash minima are then cheap integer arithmetic (without
    # this, each aggregate would recompute the md5)
    hb = g.select("doc_id",
                  (F.expr(spark_base_hash("gram")) % P31).alias("hb"))
    mins = [F.min((MINHASH_A[i] * F.col("hb") + MINHASH_B[i]) % P31)
            .alias(f"sig_{i}") for i in range(NUM_HASHES)]
    sigs = hb.groupBy("doc_id").agg(*mins)
    # left join back so signature-less docs (too short) keep a row
    all_ids = docs.select("doc_id")
    filled = all_ids.join(sigs, "doc_id", "left")
    return filled.select(
        "doc_id",
        *[F.coalesce(F.col(f"sig_{i}"), F.lit(P31)).alias(f"sig_{i}")
          for i in range(NUM_HASHES)])


def minhash_band_pairs(docs: DataFrame, n: int = 3,
                       max_band_freq: int | None = None) -> DataFrame:
    """LSH candidate pairs: same (band, band_key) for any of the 8
    bands of 2 rows; returns (doc_a, doc_b, n_matching_sigs).

    The signature table is referenced three times in this plan (band
    explode + both rejoin sides); without materialization Spark
    recomputes the md5-shingle aggregation for each reference, tripling
    the dominant cost. So it materializes once, by an eager
    ``localCheckpoint`` (17 small columns per doc; at 10^12 docs you'd
    write it to a table instead and share it across dedup runs) — not
    ``persist()``, whose cached block stays pinned in the session's
    cache manager until an unpersist no caller can safely issue; the
    ContextCleaner releases checkpoint blocks once the frame is
    garbage-collected.

    ``max_band_freq`` is the hot-bucket skew control for the 10^12-doc
    plan: a band bucket shared by more than that many documents (e.g.
    the all-boilerplate signature) would contribute O(bucket²) join
    rows; such buckets are counted in one cheap aggregation and dropped
    from the index before the self-join, bounding any join key's
    fan-out (same rationale as ``jaccard_pairs``' ``max_doc_freq``).
    Exact duplicates below the cap are unaffected."""
    sigs = minhash_signatures(docs, n).localCheckpoint(eager=True)
    bands = F.array(*[
        F.struct(F.lit(b).alias("band"),
                 (F.col(f"sig_{2 * b}") * P31 + F.col(f"sig_{2 * b + 1}"))
                 .alias("band_key"))
        for b in range(BANDS)])
    keyed = (sigs.select("doc_id", F.explode(bands).alias("bk"))
             .select("doc_id", F.col("bk.band").alias("band"),
                     F.col("bk.band_key").alias("band_key")))
    if max_band_freq is not None:
        keep = (keyed.groupBy("band", "band_key")
                .agg(F.count("*").alias("bf"))
                .filter(F.col("bf") <= max_band_freq)
                .select("band", "band_key"))
        keyed = keyed.join(keep, ["band", "band_key"])
    a, b = keyed.alias("a"), keyed.alias("b")
    cand = (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.band_key") == F.col("b.band_key"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .distinct())
    sa = sigs.alias("sa")
    sb = sigs.alias("sb")
    match_count = sum(
        (F.col(f"sa.sig_{i}") == F.col(f"sb.sig_{i}")).cast("int")
        for i in range(NUM_HASHES))
    return (cand
            .join(sa, F.col("doc_a") == F.col("sa.doc_id"))
            .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
            .select("doc_a", "doc_b",
                    match_count.alias("n_matching_sigs")))


def simhash(docs: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """(doc_id, simhash) — sign-aggregated fingerprint over word
    unigrams (counted, not distinct). 48 bits so every intermediate
    stays positive int64 in both engines."""
    toks = docs.select("doc_id",
                       F.explode(F.split(F.col("text"), " ")).alias("tok"))
    # one md5 per token row, then 48 cheap bit probes of the column
    hb = toks.select("doc_id", F.expr(spark_base_hash("tok")).alias("hb"))
    h = F.col("hb")
    bit_sums = [
        F.sum(F.when((F.shiftright(h, i).bitwiseAND(F.lit(1))) == 1,
                     F.lit(1)).otherwise(F.lit(-1))).alias(f"b{i}")
        for i in range(bits)]
    agg = hb.groupBy("doc_id").agg(*bit_sums)
    sim = None
    for i in range(bits):
        term = F.when(F.col(f"b{i}") > 0,
                      F.lit(1 << i).cast("long")).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return agg.select("doc_id", sim.alias("simhash"))


def simhash_pairs(docs: DataFrame, max_hamming: int = 3,
                  bits: int = SIMHASH_BITS) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ max_hamming, via the
    pigeonhole band index (the 10^12-doc plan — no cartesian).

    The ``bits``-bit fingerprint is split into ``max_hamming + 1``
    contiguous bands (48 bits / radius 3 → 4 bands of 12 bits). Any
    pair within the radius differs in at most ``max_hamming`` bit
    positions, so by pigeonhole at least one band matches *exactly*.
    Candidate generation is therefore an equi-join on
    ``(band_idx, band_value)`` — shuffle keyed on the band value,
    O(bands × docs) index rows — followed by an exact Hamming
    post-filter. A pair can match in several bands; only the hit of its
    lowest matching band survives the join, so each pair surfaces once
    with no distinct (and no shuffle of the candidates). Results are
    identical to the all-pairs formulation.

    The fingerprint table feeds both join sides, so it materializes
    once by an eager ``localCheckpoint`` (same rationale as the MinHash
    signature table)."""
    s = simhash(docs, bits).localCheckpoint(eager=True)
    n_bands = max_hamming + 1
    # ceil-split the bit range so every bit lands in exactly one band
    base = bits // n_bands
    rem = bits % n_bands
    widths = [base + (1 if i < rem else 0) for i in range(n_bands)]
    offs = [sum(widths[:i]) for i in range(n_bands)]
    bands = F.array(*[
        F.struct(
            F.lit(i).alias("band"),
            F.shiftright(F.col("simhash"), offs[i])
            .bitwiseAND(F.lit((1 << widths[i]) - 1)).alias("band_val"))
        for i in range(n_bands)])
    keyed = (s.select("doc_id", "simhash", F.explode(bands).alias("bk"))
             .select("doc_id", "simhash",
                     F.col("bk.band").alias("band"),
                     F.col("bk.band_val").alias("band_val")))
    a, b = keyed.alias("a"), keyed.alias("b")
    xor = F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    lowest = F.lit(True)  # this band is the pair's first exact match
    for j in range(n_bands - 1):
        lowest = lowest & ((F.col("a.band") <= j) | (
            F.shiftright(xor, offs[j])
            .bitwiseAND(F.lit((1 << widths[j]) - 1)) != 0))
    ham = F.bit_count(xor)
    return (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.band_val") == F.col("b.band_val"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")) & lowest)
            .filter(ham <= max_hamming)
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"), ham.alias("hamming")))


def contamination_flags(train: DataFrame, benchmark: DataFrame,
                        n: int = 3) -> DataFrame:
    """Benchmark decontamination: training documents sharing ANY word
    n-gram with a benchmark/eval set, with per-doc overlap counts —
    the eval-leak filter every serious pretraining pipeline runs
    (exact-substring variant; GPT-3/Llama-style 13-gram in production,
    smaller n here to suit the test corpus).

    Plan shape for 10^12 train docs: the benchmark side is TINY
    relative to the corpus, so its distinct gram set is broadcast —
    the train side never shuffles; the only exchange is the per-doc
    overlap aggregation on flagged rows (a vanishing fraction).
    Returns (doc_id, n_overlapping_grams)."""
    g_train = word_shingles(train, n)
    g_bench = word_shingles(benchmark, n).select("gram").distinct()
    return (g_train.join(F.broadcast(g_bench), "gram")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_overlapping_grams")))
