"""Closeness centrality via multi-source parallel BFS.

The "how central is this page/hub" primitive over the link graph the
reference's decoded entities feed (the same edge tables pagerank.py and
bfs.py consume; reference scope ends at entity decode —
lib/pbfParser.js — so this is consumer-side graph analytics).

Multi-source BFS is the unit-weight case of the keyed relaxation in
:mod:`osmspark.graph.sssp`: (root, node) STATE on
:func:`osmspark.fixpoint.iterate`, one edge equi-join per round from
the nodes that improved last round — but it expands ALL roots
simultaneously: rounds = max eccentricity over the roots, not
|roots|·ecc sequential sweeps. State size is O(|roots|·reach), which
is exactly the scale lever: exact closeness for every node is O(n·m)
on ANY engine, so at web scale you pass a sampled/landmark root set
(the standard pivot-closeness estimator) and the operator is linear in
|roots|.

Exactness: distances are int hops; ``n_reached`` and ``sum_dist`` are
exact int64 aggregates (order-insensitive), and ``closeness`` =
n_reached/sum_dist is ONE IEEE division of two exact integers —
hash-identical on any engine (the DuckDB oracle recomputes it from a
recursive CTE). Unreachable nodes never enter a root's sums (the
classic per-component closeness convention; emitting n_reached makes
the disconnected case auditable instead of silently comparable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .sssp import _relax

__all__ = ["multi_source_hops", "closeness_centrality",
           "harmonic_centrality"]


def multi_source_hops(edges: DataFrame, roots: DataFrame,
                      src: str = "src", dst: str = "dst",
                      max_rounds: int = 64) -> DataFrame:
    """(root, node, dist) for every node reachable from each root
    (roots themselves at dist 0). Edges are treated as UNDIRECTED
    (both directions expanded — pass a pre-oriented list for directed
    semantics); unreachable (root, node) pairs are absent.

    ``roots``: single-column DataFrame of root ids (deduplicated here).
    Rounds = max root eccentricity + one confirming round, so
    ``max_rounds`` must exceed the largest eccentricity; raises
    ``RuntimeError`` otherwise instead of returning partial distances.
    """
    arcs = (edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
            .union(edges.select(F.col(dst).alias("u"),
                                F.col(src).alias("v")))
            .filter(F.col("u") != F.col("v"))
            .withColumn("w", F.lit(1)))
    hops = _relax("multi_source_hops", arcs, roots.toDF("root"),
                  max_rounds)
    return hops.withColumn("dist", F.col("dist").cast("int"))


def closeness_centrality(edges: DataFrame, roots: DataFrame,
                         src: str = "src", dst: str = "dst",
                         max_rounds: int = 64) -> DataFrame:
    """(root, n_reached, sum_dist, closeness) per root.

    ``n_reached`` excludes the root itself; ``closeness`` is the
    classic per-component n_reached/sum_dist (NULL for isolated roots
    where sum_dist = 0). Both operands are exact int64, so the single
    division is bit-identical on any engine.
    """
    hops = multi_source_hops(edges, roots, src, dst, max_rounds)
    agg = (hops.filter(F.col("dist") > 0)
           .groupBy("root")
           .agg(F.count(F.lit(1)).alias("n_reached"),
                F.sum(F.col("dist").cast("long")).alias("sum_dist")))
    # isolated roots (nothing reached) still get a row: n_reached 0
    base = hops.select("root").distinct()
    return (base.join(agg, "root", "left")
            .select("root",
                    F.coalesce("n_reached", F.lit(0)).alias("n_reached"),
                    F.coalesce("sum_dist", F.lit(0)).alias("sum_dist"))
            .withColumn(
                "closeness",
                F.when(F.col("sum_dist") > 0,
                       F.col("n_reached").cast("double")
                       / F.col("sum_dist").cast("double"))))


def harmonic_centrality(edges: DataFrame, roots: DataFrame,
                        src: str = "src", dst: str = "dst",
                        max_rounds: int = 64,
                        mass: int = 10 ** 9) -> DataFrame:
    """(root, n_reached, eccentricity, harmonic_mass) per root — the
    disconnection-robust closeness variant (Boldi & Vigna 2014:
    Σ 1/d treats unreachable nodes as contributing 0, so scores stay
    comparable across components) plus the per-root eccentricity
    (max hop distance — the max over sampled roots lower-bounds the
    graph diameter, the standard probe).

    Exactness: the harmonic sum is QUANTIZED to exact integers —
    each reached node contributes ``mass // dist`` (integral
    division), so the reduction is an order-insensitive int64 sum and
    the module contains NO float op at all. The quantization error is
    < n_reached units on a 10^9 scale — far below any ranking step —
    and is part of the operator contract (the oracle applies the same
    quantization). Same multi-source BFS state and cost as
    :func:`closeness_centrality`.
    """
    hops = multi_source_hops(edges, roots, src, dst, max_rounds)
    agg = (hops.filter(F.col("dist") > 0)
           .groupBy("root")
           .agg(F.count(F.lit(1)).alias("n_reached"),
                F.max(F.col("dist").cast("long")).alias("eccentricity"),
                # cast each quotient to long BEFORE the sum: a raw
                # long/long Divide is a DOUBLE, and a double sum past
                # 2^53 (roots reaching >~9e6 nodes) would be inexact
                # and partition-order dependent
                F.sum(((F.lit(mass) - F.lit(mass)
                        % F.col("dist").cast("long"))
                       / F.col("dist").cast("long")).cast("long"))
                .cast("long").alias("harmonic_mass")))
    base = hops.select("root").distinct()
    return (base.join(agg, "root", "left")
            .select("root",
                    F.coalesce("n_reached", F.lit(0)).alias("n_reached"),
                    F.coalesce("eccentricity", F.lit(0))
                    .alias("eccentricity"),
                    F.coalesce("harmonic_mass", F.lit(0))
                    .alias("harmonic_mass")))
