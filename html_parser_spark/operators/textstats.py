"""Text analysis operators for training-data curation, all pure
Catalyst expressions (whole-stage codegen; zero Python in the hot path)
with exact DuckDB-oracle twins.

- token counting (whitespace tokenizer; a BPE-ish sub-token estimate)
- quality scoring (length / mean token length / stopword ratio)
- language ID (stopword-hit heuristic — n-gram-free variant that is
  expressible identically in SQL; a real model would slot in as a
  pandas UDF scorer)
- document fingerprinting (normalized md5; rolling/content-defined
  chunking would extend this for partial-dup detection)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

STOPWORDS = ("a", "the", "of", "and", "to", "in", "is")
LANG_EN_THRESHOLD_PCT = 5  # ≥5% stopword tokens → 'en'


def token_stats(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, n_chars, avg_token_len, stopword_pct,
    n_subtokens) — integer/exact-ratio quality features."""
    w = F.split(F.col("text"), " ")
    n_tokens = F.size(w)
    n_chars = F.length("text")
    sw = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(w, lambda t: F.array_contains(sw, t)))
    # BPE-ish estimate: ceil(token_len / 4) summed — integer arithmetic
    n_sub = F.aggregate(w, F.lit(0),
                        lambda acc, t: acc + F.floor((F.length(t) + 3) / 4)
                        .cast("int"))
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_chars.alias("n_chars"),
        F.round((n_chars - (n_tokens - 1)) / n_tokens, 6)
        .alias("avg_token_len"),
        (100 * n_stop).alias("stop_x100"),
        n_sub.alias("n_subtokens"))


def _bigrams(w):
    """O(len) word bigrams: zip the array with its shift-by-one view."""
    return F.zip_with(F.slice(w, 1, F.size(w) - 1),
                      F.slice(w, 2, F.size(w) - 1),
                      lambda a, b: F.concat_ws(" ", a, b))


def _mode_count(arr):
    """Occurrence count of the most frequent element — a run-length
    scan over the SORTED array (pure HOFs, no explode/groupBy)."""
    sg = F.array_sort(arr)
    return F.aggregate(
        sg,
        F.struct(F.lit(None).cast("string").alias("prev"),
                 F.lit(0).cast("long").alias("run"),
                 F.lit(0).cast("long").alias("best")),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1)
                .otherwise(F.lit(1))).alias("best")),
        lambda acc: acc["best"])


def _lang_pred(w):
    sw = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(w, lambda t: F.array_contains(sw, t)))
    return F.when(100 * n_stop >= LANG_EN_THRESHOLD_PCT * F.size(w),
                  F.lit("en")).otherwise(F.lit("unk"))


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition quality features, ZERO shuffle.

    (doc_id, n_words, n_distinct_words, dup_word_pct,
    top_bigram_count, n_distinct_bigrams) for every document with at
    least two whitespace tokens. ``top_bigram_count`` (the occurrence
    count of the most frequent word 2-gram) is the classic
    repeated-n-gram signal from the Gopher/MassiveText quality rules;
    ``dup_word_pct`` is the duplicate-token fraction (×100, floor).

    Scale shape: the obvious plan (explode bigrams → groupBy count →
    max) costs two Exchanges per corpus pass. Instead the mode count
    is computed per-row as a run-length scan over the SORTED bigram
    array (``array_sort`` + ``aggregate`` — all Catalyst higher-order
    functions, whole-stage codegen), so quality filtering a 10^12-doc
    corpus is a pure narrow map: no shuffle, no Python. The DuckDB
    oracle deliberately uses the explode+group formulation — an
    independent computation path pinning the same values."""
    w = F.split(F.col("text"), " ")
    n_words = F.size(w).cast("long")
    n_distinct = F.size(F.array_distinct(w)).cast("long")
    grams = _bigrams(w)
    run_state = _mode_count(grams)
    return (docs.filter(F.size(w) >= 2)
            .select(
                "doc_id",
                n_words.alias("n_words"),
                n_distinct.alias("n_distinct_words"),
                F.floor(100 * (n_words - n_distinct) / n_words)
                .cast("long").alias("dup_word_pct"),
                run_state.alias("top_bigram_count"),
                F.size(F.array_distinct(grams)).cast("long")
                .alias("n_distinct_bigrams")))


def quality_flags(docs: DataFrame, min_words: int = 20,
                  max_dup_word_pct: int = 40,
                  max_top_bigram: int = 4,
                  require_lang: str | None = "en") -> DataFrame:
    """One-pass quality gate: every Gopher-ish signal as a column plus
    a single ``keep`` boolean, appended to the input row — ZERO
    shuffle (all higher-order-function expressions; no joins between
    per-signal frames, which would each cost a corpus-wide Exchange).
    Thresholds are the standard shape (min length, duplicate-word
    ceiling, repeated-bigram ceiling, language gate); tune per corpus."""
    w = F.split(F.col("text"), " ")
    n_words = F.size(w).cast("long")
    n_distinct = F.size(F.array_distinct(w)).cast("long")
    dup_pct = F.floor(100 * (n_words - n_distinct) / n_words) \
        .cast("long")
    top_bi = F.when(n_words >= 2, _mode_count(_bigrams(w))) \
        .otherwise(F.lit(0)).cast("long")
    lang = _lang_pred(w)
    keep = (n_words >= min_words) & (dup_pct <= max_dup_word_pct) \
        & (top_bi <= max_top_bigram)
    if require_lang is not None:
        keep = keep & (lang == require_lang)
    return (docs.withColumn("n_words", n_words)
            .withColumn("dup_word_pct", dup_pct)
            .withColumn("top_bigram_count", top_bi)
            .withColumn("lang_pred", lang)
            .withColumn("keep", keep))


def rarity_stats(docs: DataFrame, rare_max_count: int = 2) -> DataFrame:
    """Corpus unigram-frequency rarity features — the integer-exact
    stand-in for a CCNet-style LM-perplexity quality filter (a real
    KenLM scorer slots in as a pandas UDF over the same word stream;
    these features are the distributed plumbing either way).

    Returns (doc_id, n_words, tf_min, tf_sum, n_rare): per document,
    the corpus-wide term frequency of its rarest word, the sum of its
    words' corpus frequencies, and how many of its tokens occur at
    most ``rare_max_count`` times corpus-wide. Gibberish / OCR noise
    scores high ``n_rare`` and low ``tf_min``; template spam scores
    the opposite tail — both are standard cut candidates.

    Scale shape: exchange words once to count the vocabulary (two-phase
    groupBy, map-side partial), then join the word stream back to the
    counts. The join carries no hint: the planner picks it by the
    vocabulary's size, and a sort-merge equi-join on the token is the
    honest plan at web scale, where the long-tail vocabulary (urls,
    typos) outgrows the driver. (The production middle ground —
    broadcast the top-K head and treat misses as rare — changes results
    only at the K boundary; kept out so the oracle stays exact.)"""
    words = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("w"))
    counts = words.groupBy("w").agg(F.count("*").cast("long").alias("cnt"))
    return (words.join(counts, "w")
            .groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_words"),
                 F.min("cnt").cast("long").alias("tf_min"),
                 F.sum("cnt").cast("long").alias("tf_sum"),
                 F.sum(F.when(F.col("cnt") <= rare_max_count, 1)
                       .otherwise(0)).cast("long").alias("n_rare")))


def _floor_log2(c) -> "F.Column":
    """Exact integer ``floor(log2(x))`` for x ≥ 1: the bit length of
    the binary representation minus one. ``bin()`` exists unpadded and
    prefix-free in both Spark and DuckDB, which is what makes the
    surprisal score bit-identical across engines — a float ``log2``
    would round differently per platform."""
    return (F.length(F.bin(c)) - 1).cast("long")


def surprisal_stats(docs: DataFrame, key_col: str = "doc_id") -> DataFrame:
    """Unigram language-model surprisal per document, in exact integer
    bits — the CCNet/Gopher "perplexity filter" realized with a corpus
    self-trained LM instead of an external KenLM binary (a real KenLM
    slots in as a pandas-UDF scorer over the same word stream; this IS
    the distributed plumbing either way, and the integer form is what
    the DuckDB oracle can reproduce bit-for-bit).

    Per token t: ``bits(t) = floor_log2(N_total) - floor_log2(cnt(t))``
    — an integer Shannon surprisal ``≈ -log2 p(t)`` exact to <1 bit.
    Returns (``key_col``, n_words, surprisal_bits, avg_bits_x100) —
    ``key_col`` names the document-identity column (default
    ``doc_id``; pass ``url`` for extracted corpora). Documents with
    abnormally HIGH average surprisal are gibberish/OCR noise;
    abnormally LOW are boilerplate/template spam — the two standard
    perplexity cut tails.

    Callers whose input is itself expensive lineage (a parse kernel)
    should localCheckpoint/persist it first: the word stream descends
    into both the vocabulary-count side and the probe side of the
    word⋈vocab join, so un-cached input evaluates twice.

    Scale shape (same budget as ``rarity_stats``): one exchange of the
    word stream to count the vocabulary (two-phase agg), the scalar
    corpus total reduced from the vocabulary table (never the raw
    stream) and broadcast, then the word⋈vocab equi-join, with no hint
    (as in ``rarity_stats``)."""
    words = docs.select(
        key_col, F.explode(F.split(F.col("text"), " ")).alias("w"))
    counts = words.groupBy("w").agg(
        F.count("*").cast("long").alias("cnt"))
    total = counts.agg(F.sum("cnt").cast("long").alias("total"))
    scored = (words.join(counts, "w")
              .crossJoin(F.broadcast(total))
              .withColumn("bits", _floor_log2(F.col("total"))
                          - _floor_log2(F.col("cnt"))))
    return (scored.groupBy(key_col)
            .agg(F.count("*").cast("long").alias("n_words"),
                 F.sum("bits").cast("long").alias("surprisal_bits"))
            .withColumn(
                "avg_bits_x100",
                F.expr("100 * surprisal_bits DIV n_words").cast("long")))


def plagiarism_pairs(docs: DataFrame, k: int = 8, w: int = 4,
                     min_shared: int = 2,
                     max_doc_freq: int | None = 20) -> DataFrame:
    """Cross-document partial-duplicate candidates from winnowing
    fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03): two documents
    sharing ``min_shared`` or more winnowed fingerprints share — by the
    winnowing guarantee — at least that many substrings of length
    ≥ k+w-1, the MOSS plagiarism/quotation signal that set-level
    Jaccard misses when the copied span is a small fraction of either
    document.

    Returns (doc_a, doc_b, n_shared) with doc_a < doc_b.

    Scale shape: inverted-index self-join keyed on the fingerprint
    (the same plan as ``jaccard_pairs``), at the winnowed ~2/(w+1)
    density of the raw gram set. ``max_doc_freq`` is the hot-key skew
    cap: fingerprints present in more documents than that (site
    boilerplate) leave the index BEFORE the self-join, bounding every
    join key's fan-out to ``max_doc_freq²`` — the standard
    stop-fingerprint filter, applied identically in the oracle so the
    threshold semantics stay exact."""
    from .dedup import capped_keys

    fp = capped_keys(winnow_fingerprints(docs, k=k, w=w), "fp",
                     max_doc_freq)
    a, b = fp.alias("a"), fp.alias("b")
    return (a.join(b, (F.col("a.fp") == F.col("b.fp"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .groupBy(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"))
            .agg(F.count("*").cast("long").alias("n_shared"))
            .filter(F.col("n_shared") >= min_shared))


def tfidf_keywords(docs: DataFrame, k: int = 3) -> DataFrame:
    """Per-document keyword extraction: top-``k`` tokens by an
    integer-exact TF-IDF stand-in — ``score_ppm = 1_000_000 * tf DIV
    df`` (term frequency in the doc over the token's document
    frequency corpus-wide). Monotone in tf·(1/df), so it ranks like
    tf-idf without log-domain floats — the same fixed-point discipline
    as host_rank/collocations, which is what keeps the DuckDB twin
    bit-identical across engines and partitionings. Ties break
    (score desc, token asc): fully deterministic output.

    Returns (doc_id, token, tf, df, score_ppm, rank) for rank ≤ k —
    the doc-tagging / retrieval-training feature a curation pipeline
    logs next to its quality scores.

    Scale shape: one explode+groupBy builds the (doc_id, token) tf
    table (map-side partial agg; exchange carries per-partition
    DISTINCT (doc,token) pairs); df re-aggregates THAT table by token
    (a second vocabulary-bounded exchange, never the raw stream); the
    tf⋈df equi-join carries no hint (as in ``rarity_stats``: a
    web-scale vocabulary outgrows the driver); the top-k window
    partitions by doc_id, bounded by per-doc distinct tokens. No corpus
    text moves past the first exchange.
    """
    from pyspark.sql import Window

    tf = (docs.select("doc_id",
                      F.explode(F.split(F.col("text"), " ")).alias("token"))
          .groupBy("doc_id", "token")
          .agg(F.count("*").cast("long").alias("tf")))
    df = (tf.groupBy("token")
          .agg(F.count("*").cast("long").alias("df")))
    scored = (tf.join(df, "token")
              .withColumn("score_ppm",
                          F.expr("1000000 * tf DIV df").cast("long")))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_ppm").desc(), F.col("token").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("doc_id", "token", "tf", "df", "score_ppm",
                    F.col("rank").cast("long").alias("rank")))


def lang_id(docs: DataFrame) -> DataFrame:
    """(doc_id, lang_pred): 'en' if stopword tokens ≥ threshold% else
    'unk'. Integer comparison form keeps it oracle-exact."""
    w = F.split(F.col("text"), " ")
    return docs.select("doc_id", _lang_pred(w).alias("lang_pred"))


def fingerprint(docs: DataFrame) -> DataFrame:
    """(doc_id, fp): md5 of whitespace-normalized text."""
    norm = F.regexp_replace(F.trim(F.col("text")), " +", " ")
    return docs.select("doc_id",
                       F.md5(norm.cast("binary")).alias("fp"))


def winnow_fingerprints(docs: DataFrame, k: int = 8, w: int = 4
                        ) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 —
    the MOSS partial-duplicate detector): hash every k-char gram, then
    keep the minimum hash of each window of ``w`` consecutive grams.
    Any shared substring of length ≥ k+w-1 between two documents is
    guaranteed to share a fingerprint, at ~2/(w+1) the density of the
    full gram set.

    Pure Catalyst higher-order functions over the text column (one
    pass, no shuffle until the caller aggregates); hashes are the
    md5-derived 60-bit ints from ``functions.hashing`` so the DuckDB
    oracle reproduces them bit-for-bit. Returns distinct
    (doc_id, fp) rows."""
    from ..functions.hashing import spark_base_hash
    # SQL-text lambdas (the gram position variable lives in SQL scope)
    hashes = F.expr(
        f"transform(sequence(1, greatest(length(text) - {k - 1}, 0)), "
        f"i -> {spark_base_hash(f'substring(text, i, {k})')})")
    fps = F.expr(
        f"array_distinct(transform(sequence(1, greatest(length(text) "
        f"- {k + w - 2}, 0)), j -> array_min(slice(hs, j, {w}))))")
    return (docs
            .withColumn("hs", hashes)
            .filter(F.size("hs") >= w)
            .select("doc_id", F.explode(fps).alias("fp"))
            .distinct())


# PII scrubbing patterns — deliberately conservative/simple so the
# Spark (Java regex) and DuckDB (RE2) dialects agree exactly; a
# production pipeline extends the table, each pattern parity-tested
# the same way.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\b555-[0-9]{4}\b"


def pii_scrub(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, clean_text, n_emails, n_phones): redact email/phone
    PII and count redactions — the mandatory scrub step of a
    training-data pipeline. Pure Catalyst (regexp_replace /
    regexp_count), zero Python in the hot path."""
    t = F.col(text_col)
    n_emails = F.regexp_count(t, F.lit(PII_EMAIL_RE))
    clean = F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>")
    n_phones = F.regexp_count(clean, F.lit(PII_PHONE_RE))
    clean = F.regexp_replace(clean, PII_PHONE_RE, "<PHONE>")
    return docs.select("doc_id",
                       clean.alias("clean_text"),
                       n_emails.cast("long").alias("n_emails"),
                       n_phones.cast("long").alias("n_phones"))


def quality_classifier(docs: DataFrame, n_weights_mod: int = 2001,
                       threshold: int = 0) -> DataFrame:
    """Hashing-trick linear quality classifier (the model-based filter
    slot: CCNet's fastText LID / Llama's wiki-ref classifier sit here).
    Each distinct token hashes to a signed integer weight via the
    engine-portable md5 base hash (functions/hashing.py); the document
    score is the exact integer sum over DISTINCT tokens and ``keep``
    is a threshold cut.

    The weights here are a deterministic md5-derived stand-in — a real
    trained model drops in as a broadcast token→weight map (or a
    pandas-UDF scorer for a non-linear one) with the SAME plan: this
    operator's value is the zero-shuffle shape. Scoring is entirely
    higher-order Catalyst expressions (split → array_distinct →
    transform → aggregate): a narrow map over the docs table, no
    explode, no shuffle, whole-stage codegen end to end. Integer sums
    are exactly associative → bit-identical across partitionings and
    engines (the float-logistic head of a real model would live in a
    final select; the heavy lift — per-token lookup + reduce — is
    shuffle-free either way)."""
    from ..functions.hashing import spark_base_hash
    half = (n_weights_mod - 1) // 2
    score = F.expr(
        f"aggregate(transform(array_distinct(split(text, ' ')), "
        f"t -> {spark_base_hash('t')} % {n_weights_mod} - {half}), "
        f"0L, (acc, x) -> acc + x)")
    return docs.select(
        "doc_id", score.cast("long").alias("score"),
        (score >= F.lit(threshold)).alias("keep"))


def vocab_topk(docs: DataFrame, k: int = 200) -> DataFrame:
    """Corpus vocabulary statistics (tokenizer-training input): top-k
    tokens by total frequency with (tf, df). Two explicit aggregation
    phases instead of groupBy+countDistinct: phase 1 keys on
    (token, doc_id) with map-side combine — the exchange carries one
    row per PER-PARTITION DISTINCT (token, doc_id) pair (the honest
    bound: the sum of per-document vocabularies, not per-partition
    vocabulary) and avoids the Expand node a countDistinct would plan;
    phase 2 reduces to one row per token (tiny). The top-k is a
    TakeOrdered (no global sort materialization); deterministic
    tiebreak (tf desc, token asc) makes the selected set unique under
    equal counts."""
    toks = (docs.select("doc_id",
                        F.explode(F.split(F.col("text"), " "))
                        .alias("token")))
    per_doc = (toks.groupBy("token", "doc_id")
               .agg(F.count("*").alias("c")))
    agg = (per_doc.groupBy("token")
           .agg(F.sum("c").cast("long").alias("tf"),
                F.count("*").cast("long").alias("df")))
    return (agg.orderBy(F.col("tf").desc(), F.col("token"))
            .limit(k))


def collocations(docs: DataFrame, min_count: int = 5,
                 k: int = 100) -> DataFrame:
    """Corpus collocation mining (phrase-table input for tokenizer /
    n-gram merge training): top-k word bigrams by Dice association,
    ``dice_ppm = 2_000_000 * n_xy div (n_x + n_y)`` — EXACT integer
    arithmetic, so the score is bit-identical across partitionings and
    engines (no log-domain float parity risk; same fixed-point
    discipline as operators/rank.py). ``2e6 * n_xy`` with
    ``n_xy <= min(n_x, n_y)`` keeps the numerator under ``2e6 * N``
    tokens — at int64 that holds to ~4.6e12 occurrences of a single
    bigram, far past any real corpus hot pair.

    Plan shape at scale: one explode+groupBy per n-gram order (both
    with map-side combine — the exchanges carry per-partition DISTINCT
    grams, vocabulary-bounded, not token-bounded), the ``min_count``
    filter cuts the bigram table BEFORE the two unigram equi-joins
    (hapax bigrams — the vast majority — never join), and the top-k is
    a TakeOrdered, not a global sort. The unigram side stays a shuffle
    join on the token key: at web scale the vocabulary outgrows a
    broadcast. Deterministic (dice desc, bigram asc) tiebreak: bigram
    strings are unique keys (tokens cannot contain the split char), so
    the selected top-k set is unique."""
    w = F.split(F.col("text"), " ")
    pairs = F.zip_with(F.slice(w, 1, F.size(w) - 1),
                       F.slice(w, 2, F.size(w) - 1),
                       lambda a, b: F.struct(a.alias("x"), b.alias("y")))
    nxy = (docs.select(F.explode(pairs).alias("p"))
           .select("p.x", "p.y")
           .groupBy("x", "y").agg(F.count("*").cast("long").alias("n_xy"))
           .where(F.col("n_xy") >= min_count))
    uni = (docs.select(F.explode(w).alias("tok"))
           .groupBy("tok").agg(F.count("*").cast("long").alias("n")))
    out = (nxy
           .join(uni.select(F.col("tok").alias("x"),
                            F.col("n").alias("n_x")), "x")
           .join(uni.select(F.col("tok").alias("y"),
                            F.col("n").alias("n_y")), "y"))
    dice = F.expr("(2000000 * n_xy) div (n_x + n_y)")
    return (out.select(
        F.concat_ws(" ", "x", "y").alias("bigram"),
        "n_xy", "n_x", "n_y",
        dice.cast("long").alias("dice_ppm"))
        .orderBy(F.col("dice_ppm").desc(), "bigram")
        .limit(k))
