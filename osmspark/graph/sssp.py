"""Weighted single-source shortest paths (distributed Bellman-Ford).

The road-network primitive the OSM data model exists to feed: the
reference decodes ways into node-ref chains (`lib/pbfParser.js:443-473`)
precisely so a consumer can build an edge list and route over it —
this operator closes that loop on the decoded tables. Generalizes
:mod:`osmspark.graph.bfs` (hop distances = all weights 1) to
non-negative INTEGER weights, so every tentative distance is an exact
int64 and the result is bit-identical under any partitioning — the
same exactness discipline as the integer-mass PageRank.

Frontier-pruned Bellman-Ford on :func:`osmspark.fixpoint.iterate`:
only nodes whose distance IMPROVED last round (``hot``) re-relax their
out-edges (delta-stepping's work-skipping without its bucket ordering
— ordering is irrelevant here because rounds are synchronous joins,
not a priority queue). Each round is one equi-join (hot rows × arcs)
and one combinable ``min(struct(dist, f))`` aggregate over the
candidates and the old state, so a node turns hot again only on a
strict improvement. The same relaxation, keyed by a root column and
run with unit weights, is the multi-source BFS behind
:mod:`osmspark.graph.centrality`. Round count = max hop count over all
optimal paths (≤ V−1 in theory; small for real networks where heavy
detours don't win) plus one confirming round; a run that exhausts
``max_rounds`` first raises.

Weights must be NON-NEGATIVE integers (validated per-row inside the
relaxation expression: a negative weight poisons the run with an
explicit error rather than silently diverging until ``max_rounds``).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..fixpoint import iterate

__all__ = ["shortest_paths"]


def _relax(name: str, arcs: DataFrame, roots: DataFrame,
           max_rounds: int) -> DataFrame:
    """(root, node, dist) — least total ``w`` over the ``(u, v, w)``
    arcs from each distinct root to every node it reaches (the root
    itself at dist 0). A path of L arcs needs ``max_rounds >= L + 1``;
    raises ``RuntimeError("<name> did not converge in N rounds")``
    otherwise."""
    # seed ``node`` with the type the first round's union widens it to:
    # iterate rejects a step that changes the state's schema
    node_t = roots.union(arcs.select("v")).schema[0].dataType
    state = (roots.distinct()
             .select("root", F.col("root").cast(node_t).alias("node"),
                     F.lit(0).cast("long").alias("dist"),
                     F.lit(True).alias("hot")))

    def step(s: DataFrame) -> DataFrame:
        cand = (s.filter("hot")
                .select("root", F.col("node").alias("u"), "dist")
                .join(arcs, "u")
                .select("root", F.col("v").alias("node"),
                        (F.col("dist") + F.col("w")).alias("dist"),
                        F.lit(1).alias("f")))
        best = (s.select("root", "node", "dist", F.lit(0).alias("f"))
                .union(cand)
                .groupBy("root", "node")
                .agg(F.min(F.struct("dist", "f")).alias("m")))
        return best.select("root", "node", "m.dist",
                           (F.col("m.f") == 1).alias("hot"))

    return iterate(name, state, step, ("root", "node", "dist"),
                   max_rounds).drop("hot")


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
    seed = edges.sparkSession.createDataFrame(pd.DataFrame({"root": [source]}))
    return _relax("shortest_paths", both, seed, max_rounds).drop("root")
