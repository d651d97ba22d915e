"""Weighted single-source shortest paths (distributed Bellman-Ford).

The road-network primitive the OSM data model exists to feed: the
reference decodes ways into node-ref chains (`lib/pbfParser.js:443-473`)
precisely so a consumer can build an edge list and route over it —
this operator closes that loop on the decoded tables. Generalizes
:mod:`osmspark.graph.bfs` (hop distances = all weights 1) to
non-negative INTEGER weights, so every tentative distance is an exact
int64 and the result is bit-identical under any partitioning — the
same exactness discipline as the integer-mass PageRank.

Frontier-pruned Bellman-Ford: only nodes whose distance IMPROVED last
round re-relax their out-edges (delta-stepping's work-skipping without
its bucket ordering — ordering is irrelevant here because rounds are
synchronous joins, not a priority queue). Each round is one equi-join
(frontier × edges, frontier is the small side) + one combinable
``min`` aggregate + an anti-improvement filter against the settled
map; the loop stops when a round improves nothing. Round count = max
hop count over all optimal paths (≤ V−1 in theory; small for
real networks where heavy detours don't win); a run that exhausts
``max_rounds`` with a non-empty frontier raises. The settled table is
checkpointed per round, so lineage never grows with the round number.

Weights must be NON-NEGATIVE integers (validated per-row inside the
relaxation expression: a negative weight poisons the run with an
explicit error rather than silently diverging until ``max_rounds``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = ["shortest_paths"]


def shortest_paths(edges: DataFrame, source, src: str = "src",
                   dst: str = "dst", weight: str = "w",
                   directed: bool = False,
                   max_rounds: int = 256) -> DataFrame:
    """(node, dist) — exact weighted shortest distance from ``source``
    for every reachable node (the source itself at dist 0); unreachable
    nodes are absent. Undirected by default: each edge row relaxes in
    both directions with the SAME weight. ``max_rounds`` must exceed
    the largest hop count of an improving path; raises
    ``RuntimeError`` otherwise instead of returning partial
    distances."""
    w = (F.col(weight).cast("long"))
    # raise_error is never evaluated for valid rows (CASE short-circuit)
    w = F.when(w >= 0, w).otherwise(
        F.raise_error(F.format_string(
            "shortest_paths: negative weight %s", F.col(weight))))
    one_way = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"),
                           w.alias("w"))
    both = one_way if directed else one_way.union(
        edges.select(F.col(dst).alias("u"), F.col(src).alias("v"),
                     w.alias("w")))
    both = both.filter(F.col("u") != F.col("v"))

    spark = edges.sparkSession
    settled = spark.createDataFrame([(source, 0)], ["node", "dist"]) \
        .withColumn("dist", F.col("dist").cast("long"))
    frontier = settled
    for _ in range(max_rounds):
        cand = (both.join(frontier.withColumnRenamed("node", "u"), "u")
                .select(F.col("v").alias("node"),
                        (F.col("dist") + F.col("w")).alias("nd"))
                .groupBy("node").agg(F.min("nd").alias("nd")))
        improved = (cand.join(settled, "node", "left")
                    .filter(F.col("dist").isNull()
                            | (F.col("nd") < F.col("dist")))
                    .select("node", F.col("nd").alias("dist")))
        # one action per round: materializes the frontier AND detects
        # convergence (no separate count job)
        improved = improved.localCheckpoint()
        if improved.count() == 0:
            return settled
        settled = (settled.union(improved)
                   .groupBy("node").agg(F.min("dist").alias("dist"))
                   .localCheckpoint())
        frontier = improved
    raise RuntimeError(
        f"shortest_paths did not converge in {max_rounds} rounds")
