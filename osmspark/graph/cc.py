"""Connected components in O(log n) rounds — hash-greater-to-min.

One-hop min-label propagation takes O(diameter) rounds on long chains —
a city-sized DBSCAN component at eps resolution has diameter in the
hundreds, where one-hop propagation means hundreds of shuffles. This
module implements the public HASH-GREATER-TO-MIN algorithm (Rastogi,
Machanavajjhala, Chitnis, Das Sarma, "Finding Connected Components in
MapReduce", ICDE'13 — O(log n) rounds, O(|E| log n) total
communication): every node keeps a member set C(u) (rows of a (u, v)
table, seeded with self-loops + neighbors both ways), and each round

    m(u) = min C(u);  send m(u) to every v ∈ C(u);  send every
    v ∈ C(u) with v > m(u) to m(u)

so minima race down AND the min node aggregates its component — at the
fixpoint C(min) is the whole component and every other C(u) = {u, min}.
(An earlier draft used one-hop min + pointer jumping; measured on a
400-node random graph it stalled for 20+ rounds because nothing ever
updates the pointed-AT node — the greater-to-min scatter is the fix,
8/16/10 rounds on random/path-3000/grid-60² in the pinned tests.)

Per round: one (u)-keyed min agg + one join + a fan-out projection +
distinct; the round loop, its checkpointing and its convergence
signature are :func:`osmspark.fixpoint.iterate`. All id-keyed
shuffles, nothing driver-side. Skew note: the
greater-to-min messages key on the component minimum, so a giant
component concentrates one key per round — AQE skew-split territory,
bounded by component size (linear, not quadratic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..fixpoint import iterate

__all__ = ["cc_labels"]


def cc_labels(ids: DataFrame, edges: DataFrame, id_col: str = "id",
              max_rounds: int = 30) -> DataFrame:
    """(id, label) with label = min node id of the component.

    ``ids``: one row per node (column ``id_col``); isolated nodes keep
    their own id. ``edges``: (a, b) pairs, either orientation, dups
    fine, endpoints ⊆ ids. ``max_rounds`` bounds the rounds (the
    algorithm needs O(log n); the pinned worst case, a 3000-node path,
    takes 16) — raises if the member table is still moving.
    ``pipeline.dedup.dedup_clusters`` is this function under the
    (doc_id, cluster_id) names."""
    nodes = ids.select(F.col(id_col).alias("id")).distinct()
    sym = (edges.select(F.col("a").alias("u"), F.col("b").alias("v"))
           .unionByName(edges.select(F.col("b").alias("u"),
                                     F.col("a").alias("v"))))
    members = (sym.unionByName(nodes.select(F.col("id").alias("u"),
                                            F.col("id").alias("v")))
               .distinct())

    def step(members: DataFrame) -> DataFrame:
        # m(u) = min C(u)  (self-loop rows make u itself a candidate)
        mins = members.groupBy("u").agg(F.min("v").alias("m"))
        j = members.join(mins, "u")
        to_all = j.select(F.col("v").alias("u"), F.col("m").alias("v"))
        to_min = (j.filter(F.col("v") > F.col("m"))
                  .select(F.col("m").alias("u"), F.col("v")))
        return to_all.unionByName(to_min).distinct()

    members = iterate("cc_labels", members, step, ("u", "v"), max_rounds)
    return members.groupBy("u").agg(F.min("v").alias("label")) \
        .select(F.col("u").alias("id"), "label")
