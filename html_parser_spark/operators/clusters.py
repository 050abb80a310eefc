"""Duplicate-cluster resolution — connected components over near-dup
pairs.

The pair generators (``dedup.jaccard_pairs``, ``minhash_band_pairs``,
``simhash_pairs``) emit *edges*; a pipeline must resolve them into
*clusters* and keep exactly one document per cluster — transitivity
matters (A~B, B~C ⇒ {A,B,C} is one group even when A≁C directly), so
"keep min(doc_a, doc_b) per pair" over-deletes. This module is that
resolution step: distributed connected components with the canonical
min-label convention (cluster id = smallest doc_id in the component,
which is also the kept representative).

Algorithm: iterative min-label propagation —
``label(v) ← min(label(v), min over neighbors u of label(u))`` until a
fixpoint. Each round is one equi-join of the (symmetrized, distinct)
edge list against the label table plus one groupBy — two exchanges,
both on doc_id keys, partitioning reused round-to-round by AQE. Rounds
= component diameter; near-dup graphs are star-shaped (a template hub
plus leaves), so 2-4 rounds in practice. ``localCheckpoint`` after
every round cuts the lineage chain — the classic failure mode of
iterative DataFrame jobs (plan grows each round until the optimizer
chokes) — and makes the per-round convergence count cheap.

For adversarial chain/path-shaped graphs (diameter ≈ n) this module
also implements the alternating **large-star/small-star** rewrite
(Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC'14): large-star connects every neighbor LARGER than a node to
its neighborhood minimum, small-star connects the smaller ones —
alternating the two halves the longest root-path geometrically, so
the edge set collapses to a star forest (every node → its component
min) in O(log² n) rounds instead of O(diameter). Each half-round is
one window-min over the node key plus a distinct — two exchanges,
same join shape every round, same ``localCheckpoint`` lineage
discipline. ``connected_components`` (min-label) stays the default at
the star-ish shapes template dedup actually produces (fewer exchanges
per round, no edge-set rewrite); ``connected_components_star`` is the
selectable escape for chain-shaped graphs, and raises nowhere near
the label loop's diameter bound.

The DuckDB oracle computes the same fixpoint independently via a
recursive-CTE transitive closure (min reachable vertex) — a different
algorithm entirely, so parity pins semantics, not implementation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def connected_components(pairs: DataFrame, src: str = "doc_a",
                         dst: str = "doc_b", max_iter: int = 25,
                         stats: dict | None = None) -> DataFrame:
    """(doc_id, cluster_id): min-label connected components over an
    undirected pair list. Raises if the fixpoint is not reached within
    ``max_iter`` rounds (diameter bound exceeded — switch to
    ``connected_components_star`` before raising the cap). ``stats``
    (optional dict) receives ``{"rounds": n}`` for convergence
    auditing."""
    e = pairs.select(F.col(src).cast("long").alias("u"),
                     F.col(dst).cast("long").alias("v"))
    # materialize the symmetrized edge list ONCE — it is re-joined every
    # propagation round, and without the checkpoint each round would
    # re-run the (possibly expensive) upstream pair generation
    sym = (e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
           .distinct().localCheckpoint())
    lab = (sym.groupBy("u")
           .agg(F.least(F.col("u"), F.min("v")).alias("lab"))
           .localCheckpoint())
    for rnd in range(1, max_iter + 1):
        nb = (sym.join(lab.select(F.col("u").alias("v"),
                                  F.col("lab").alias("vlab")), "v")
              .groupBy("u").agg(F.min("vlab").alias("nlab")))
        new = (lab.join(nb, "u")
               .select("u", F.col("lab").alias("old"),
                       F.least("lab", "nlab").alias("lab"))
               .localCheckpoint())
        changed = new.filter(F.col("lab") != F.col("old")).count()
        lab = new.select("u", "lab")
        if changed == 0:
            if stats is not None:
                stats["rounds"] = rnd
            return lab.select(F.col("u").alias("doc_id"),
                              F.col("lab").cast("long").alias("cluster_id"))
    raise RuntimeError(
        f"connected_components: no fixpoint in {max_iter} rounds")


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star: for every node u, connect each STRICTLY LARGER
    neighbor to m(u) = min(N(u) ∪ {u}). One window-min over the
    symmetrized edge list (one exchange on u) + distinct."""
    from pyspark.sql import Window
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = F.least(F.col("u"), F.min("v").over(Window.partitionBy("u")))
    return (sym.withColumn("m", m)
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct())


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star: orient edges larger→smaller, then for every node u
    connect each smaller neighbor (and u itself) to m(u) = min of the
    smaller neighborhood. The two output rows per input edge — (v, m)
    and (u, m) — come from ONE explode over the single window pass (a
    union of two selects would compute the window twice over the full
    edge list). (v, m) rows with v == m self-drop on the u != v
    filter; u > m always holds since m ≤ v < u."""
    from pyspark.sql import Window
    d = e.select(F.greatest("u", "v").alias("u"),
                 F.least("u", "v").alias("v"))
    star = d.withColumn("m", F.min("v").over(Window.partitionBy("u")))
    both = F.array(
        F.struct(F.col("v").alias("u"), F.col("m").alias("v")),
        F.struct(F.col("u").alias("u"), F.col("m").alias("v")))
    return (star.select(F.explode(both).alias("e"))
            .select("e.u", "e.v")
            .where(F.col("u") != F.col("v"))
            .distinct())


def connected_components_star(pairs: DataFrame, src: str = "doc_a",
                              dst: str = "doc_b", max_iter: int = 50,
                              stats: dict | None = None) -> DataFrame:
    """(doc_id, cluster_id): alternating large-star/small-star
    connected components (Kiveris et al., SoCC'14) — O(log² n) rounds
    regardless of component diameter, so a 10^6-link chain that would
    need 10^6 min-label propagation rounds converges in ~20 star
    rounds. Convergence is detected by an (edge count, xxhash64 sum)
    checksum going stable across a full large+small round — one tiny
    two-value action per round, same cost class as the label loop's
    ``changed`` count. At the fixpoint the edge set IS the star
    forest: every non-root node holds exactly (node → component min).
    """
    raw = pairs.select(F.col(src).cast("long").alias("u"),
                       F.col(dst).cast("long").alias("v"))
    # nodes come from the UNFILTERED pair list: a document whose only
    # pair is a self-pair (u == v) still owns a singleton row in the
    # output, exactly like connected_components
    nodes = (raw.select("u").union(raw.select(F.col("v").alias("u")))
             .distinct().localCheckpoint())
    e = (raw.where(F.col("u") != F.col("v"))
         .distinct().localCheckpoint())

    def checksum(edges: DataFrame) -> tuple:
        # bit_xor fold of the per-edge hashes: order-insensitive and
        # overflow-free (a SUM of xxhash64 values trips ANSI-mode
        # long-overflow on real edge counts)
        r = edges.agg(F.count("*").alias("n"),
                      F.expr("bit_xor(xxhash64(u, v))").alias("h")).first()
        return (r["n"], r["h"])

    prev = checksum(e)
    for rnd in range(1, max_iter + 1):
        e = _small_star(_large_star(e)).localCheckpoint()
        cur = checksum(e)
        if cur == prev:
            if stats is not None:
                stats["rounds"] = rnd
            root = e.groupBy("u").agg(F.min("v").alias("lab"))
            return (nodes.join(root, "u", "left")
                    .select(F.col("u").cast("long").alias("doc_id"),
                            F.coalesce("lab", "u").cast("long")
                            .alias("cluster_id")))
        prev = cur
    raise RuntimeError(
        f"connected_components_star: no fixpoint in {max_iter} rounds")


def dedup_clusters(pairs: DataFrame, src: str = "doc_a",
                   dst: str = "doc_b",
                   algorithm: str = "label") -> DataFrame:
    """Resolve near-dup pairs into keep/drop decisions:
    (doc_id, cluster_id, cluster_size, is_kept) for every document that
    appears in at least one pair. ``is_kept`` marks the cluster's
    min-id representative; the training-set filter is an anti-join of
    the corpus against the ``is_kept = false`` rows. ``algorithm``:
    "label" (min-label propagation, default — fewest exchanges on the
    star-ish graphs dedup produces) or "star" (large-star/small-star,
    O(log² n) rounds on chain-shaped graphs)."""
    if algorithm == "star":
        lab = connected_components_star(pairs, src, dst)
    elif algorithm == "label":
        lab = connected_components(pairs, src, dst)
    else:
        raise ValueError(f"unknown algorithm {algorithm!r}: "
                         "expected 'label' or 'star'")
    sizes = (lab.groupBy("cluster_id")
             .agg(F.count("*").cast("long").alias("cluster_size")))
    return (lab.join(sizes, "cluster_id")
            .select("doc_id", "cluster_id", "cluster_size",
                    (F.col("doc_id") == F.col("cluster_id"))
                    .alias("is_kept")))


def dedup_representatives(pairs: DataFrame, docs: DataFrame,
                          quality_col: str = "quality") -> DataFrame:
    """Quality-aware canonical-document selection — the full-corpus
    keep-list a training pipeline actually materializes.

    ``dedup_clusters`` keeps each cluster's min-id document; real
    pipelines keep the *best* copy (longest text, highest quality
    score — the min-id copy is often the truncated or boilerplate
    variant). This operator joins the min-label component labels
    (``connected_components``) back onto the whole corpus and picks,
    per cluster, the document maximizing ``quality_col`` (ties broken
    by smallest ``doc_id`` — fully deterministic, so re-runs produce
    byte-identical keep-lists, the resumability property
    ``plans/pipeline.py`` relies on).

    Output: one row per **corpus** document (not just paired ones):
    ``(doc_id, cluster_id, rep_id, is_kept)``. Documents in no pair
    are their own singleton cluster and are always kept — the output
    is the complete filter table, anti-joinable against the corpus in
    one pass.

    Scale shape: the rep pick runs on the LABEL table only (|paired
    docs| rows — tiny next to the corpus: its window never touches
    unpaired documents, whose rep is trivially themselves), then two
    left joins carry ``(cluster_id, rep_id)`` back onto the corpus —
    both join the full corpus against paired-docs-sized tables, so AQE
    broadcasts them and the corpus never shuffles. Window partitions
    are near-dup clusters, bounded by the pair generators' hot-key
    caps — no skew surface. Only ``(doc_id, cluster_id, quality)``
    rows ever move, never text.
    """
    from pyspark.sql import Window

    lab = connected_components(pairs)
    q = docs.select(F.col("doc_id").cast("long"),
                    F.col(quality_col).alias("_q"))
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("_q").desc(), F.col("doc_id").asc())
    reps = (lab.join(q, "doc_id")
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("cluster_id", F.col("doc_id").alias("rep_id")))
    return (q.join(lab, "doc_id", "left")
            .withColumn("cluster_id", F.coalesce("cluster_id", "doc_id"))
            .join(reps, "cluster_id", "left")
            .select("doc_id",
                    F.col("cluster_id").cast("long").alias("cluster_id"),
                    F.coalesce("rep_id", "doc_id").cast("long")
                    .alias("rep_id"),
                    (F.col("doc_id") == F.coalesce("rep_id", "doc_id"))
                    .alias("is_kept")))
