"""Graph analytics over co-occurrence edges: degrees, triangles,
PageRank.

The engine's tables induce natural graphs (suppliers co-filling an
order, parts co-bought in a basket, users co-visiting). These
operators take an undirected EDGE TABLE ``(src, dst)`` with
``src < dst`` and no duplicates — `cooccurrence_edges` builds one
from a (basket, member) relation — and compute the standard
structure metrics, each in the shape that survives a 100-TB edge
list:

- ``degree_table``: one explode + one combinable groupBy.
- ``triangle_count``: edges are ORIENTED from lower to higher
  (degree, node) rank before the wedge join, the classic
  Schank/Wagner trick — every wedge is enumerated at its
  lowest-degree vertex, so hub vertices never fan out a quadratic
  wedge set (a plain ``src < dst`` orientation keels over on a
  power-law graph; the count is provably identical, which is what
  the oracle's naive 3-way join checks).
- ``pagerank``: fixed-iteration damped power method as repeated
  (rank ⨝ edges) shuffles on the node key; out-degrees computed
  once and cached in the edge frame. Dangling nodes (none in an
  undirected co-occurrence graph) would redistribute uniformly.
  Iterative -> not SQL-expressible; the oracle entry is rows-only
  and the exact check is a numpy power-method differential test.

Reference parity: the reference's network code (G1-G5,
hwynet.py/mapmatch) walks a road graph on the driver; these are the
distributed counterparts for analytic graph queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from ._cache import tracked_persist

__all__ = [
    "cooccurrence_edges",
    "degree_table",
    "triangle_count",
    "pagerank",
]


def cooccurrence_edges(
    rel: DataFrame, basket: str, member: str, min_support: int = 1
) -> DataFrame:
    """Distinct undirected edges ``(src < dst)`` between members
    sharing at least ``min_support`` baskets. The self-join is keyed
    on the basket id, so work is bounded by (basket width)^2, never
    |members|^2 — the same containment that makes
    mk_part_cooccurrence scale-safe. ``min_support`` > 1 sparsifies
    a dense co-occurrence graph to its repeated relationships."""
    m = rel.select(
        F.col(basket).alias("b"), F.col(member).alias("m")
    ).distinct()
    a, b = m.alias("a"), m.alias("b")
    pairs = (
        a.join(b, F.col("a.b") == F.col("b.b"))
        .where(F.col("a.m") < F.col("b.m"))
        .select(F.col("a.m").alias("src"), F.col("b.m").alias("dst"))
    )
    if min_support <= 1:
        return pairs.distinct()
    return (
        pairs.groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") >= min_support)
        .drop("_n")
    )


def degree_table(edges: DataFrame) -> DataFrame:
    """(node, degree) — endpoints exploded once, map-side combined."""
    ends = edges.select(F.col("src").alias("node")).unionAll(
        edges.select(F.col("dst").alias("node"))
    )
    return ends.groupBy("node").agg(
        F.count(F.lit(1)).cast("bigint").alias("degree")
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """One-row frame ``(n_triangles)``.

    Orientation: lo -> hi by (degree, node) total order; wedges are
    built at the lo vertex and closed by an equi-join back to the
    oriented edge set. Three hash joins, no driver state.

    The oriented edge list its four consumers read is persisted;
    ``release_operator_caches`` / ``cache_scope`` release it.
    """
    deg = degree_table(edges)
    with_rank = (
        edges.join(deg.withColumnRenamed("node", "src"), "src")
        .withColumnRenamed("degree", "src_deg")
        .join(deg.withColumnRenamed("node", "dst"), "dst")
        .withColumnRenamed("degree", "dst_deg")
    )
    lo_first = F.col("src_deg") < F.col("dst_deg")
    tie = (F.col("src_deg") == F.col("dst_deg")) & (F.col("src") < F.col("dst"))
    # The oriented edge list feeds FOUR consumers (both wedge sides +
    # both closing-probe directions); without materialization Catalyst
    # recomputes the edges⨝deg⨝deg orientation subtree for each —
    # r5 plan audit measured 40 input scans on the catalog query.
    # Materializing the oriented edges once is the standard first step
    # of every distributed triangle count; edge-grain, MEMORY_AND_DISK.
    lo_hi = lo_first | tie
    oriented = tracked_persist(
        with_rank.select(
            F.when(lo_hi, F.col("src")).otherwise(F.col("dst")).alias("lo"),
            F.when(lo_hi, F.col("dst")).otherwise(F.col("src")).alias("hi"),
        )
    )
    w1 = oriented.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    w2 = oriented.select(F.col("lo").alias("a"), F.col("hi").alias("c"))
    wedges = w1.join(w2, "a").where(F.col("b") < F.col("c"))
    closing = oriented.select(
        F.col("lo").alias("b"), F.col("hi").alias("c")
    ).unionAll(
        # the closing edge's orientation between b and c is by rank,
        # which need not match b < c — probe both directions
        oriented.select(F.col("hi").alias("b"), F.col("lo").alias("c"))
    )
    tri = wedges.join(closing, ["b", "c"])
    return tri.agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))


def pagerank(
    edges: DataFrame, damping: float = 0.85, iters: int = 10
) -> DataFrame:
    """(node, rank) after ``iters`` damped power iterations on the
    undirected graph (each edge walks both ways). Per iteration: one
    join of the rank vector against the out-edge table + one groupBy
    — both hash-partitioned on the node key, so with a consistent
    partitioner the join is co-located after the first shuffle.
    localCheckpoint every few rounds truncates the lineage the same
    way operators/dedup.cluster_duplicates does."""
    both = edges.unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    outdeg = both.groupBy("src").agg(F.count(F.lit(1)).alias("outd"))
    adj = tracked_persist(both.join(outdeg, "src"))
    n = adj.select("src").distinct().count()
    base = (1.0 - damping) / n
    ranks = adj.select("src").distinct().select(
        F.col("src").alias("node"), F.lit(1.0 / n).alias("rank")
    )
    for i in range(iters):
        contrib = (
            adj.join(ranks, adj.src == ranks.node)
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("outd")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("in_sum"))
        )
        ranks = contrib.select(
            "node", (F.lit(base) + F.lit(damping) * F.col("in_sum")).alias("rank")
        )
        if (i + 1) % 4 == 0:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks


def pagerank_micro(
    edges: DataFrame,
    damping_pct: int = 85,
    iters: int = 10,
    scale: int = 10**12,
) -> DataFrame:
    """EXACT-arithmetic PageRank twin of :func:`pagerank`: ranks in
    fixed-point ``scale`` units, every step integer (`div`
    truncation, integer sums are shuffle-order independent), so the
    result is bit-reproducible across engines, partitionings, and
    reruns — unlike the float power method, whose per-node
    neighbor-sum order depends on the shuffle.

    Semantics: ``r'(v) = (100-d)·scale div (100·n) +
    (d · Σ_u r(u) div outdeg(u)) div 100`` for ``iters`` fixed
    rounds. The truncation loses < 1 micro-unit per edge per round —
    irrelevant for ranking, essential for verifiability. Same
    join-shape per iteration as :func:`pagerank` (rank ⨝ out-edges,
    node-keyed groupBy; co-located under a consistent partitioner).
    """
    both = edges.unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    outdeg = both.groupBy("src").agg(F.count(F.lit(1)).alias("outd"))
    adj = tracked_persist(both.join(outdeg, "src"))
    n = adj.select("src").distinct().count()
    base = ((100 - damping_pct) * scale) // (100 * n)
    ranks = adj.select("src").distinct().select(
        F.col("src").alias("node"),
        F.lit(scale // n).cast("bigint").alias("r"),
    )
    for i in range(iters):
        contrib = (
            adj.join(ranks, adj.src == ranks.node)
            .select(
                F.col("dst").alias("node"),
                F.expr("r div outd").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").cast("bigint").alias("in_sum"))
        )
        ranks = contrib.select(
            "node",
            (
                F.lit(base)
                + F.expr(f"({damping_pct} * in_sum) div 100")
            )
            .cast("bigint")
            .alias("r"),
        )
        if (i + 1) % 4 == 0:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks
