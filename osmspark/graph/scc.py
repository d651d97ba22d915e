"""Strongly connected components — deterministic FW-BW-min peeling.

The directed-graph condensation primitive (link-farm detection, crawl
frontier cycle analysis, dependency clustering): u and v share an SCC
iff each reaches the other. Tarjan's sequential algorithm is a DFS —
inherently serial — so the distributed form is the classic
forward-backward minimum peel (the Pregel/coloring family): per phase

1. ``f(u)`` = min node id reachable FORWARD from u (min-label
   propagation to fixpoint on :func:`osmspark.fixpoint.iterate`),
2. ``b(u)`` = the same over REVERSED edges,
3. every node with ``f(u) = b(u) = a`` is settled into SCC ``a``:
   u reaches a and a reaches u, so the pair equality is a PROOF of
   mutual reachability — never a heuristic; label = min member id,
   the ``cc_labels`` convention,
4. settled nodes leave the graph and the next phase peels the rest.

Each phase settles at least the SCC of the smallest remaining id (its
own f and b are provably itself), so phases ≤ #SCC-layers; random and
web-shaped graphs settle the bulk in the first phase (every SCC whose
min id is not forward-reachable from a smaller id settles
immediately). Both propagation loops are edge equi-joins + combinable
min aggregations — one shuffle pair per round, nothing driver-side but
the convergence signature scalar.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..fixpoint import iterate

__all__ = ["scc_labels", "condense", "topo_levels"]


def _min_reach(nodes: DataFrame, edges: DataFrame, forward: bool,
               max_rounds: int) -> DataFrame:
    """(node, l): min id reachable from node along the edge direction
    (forward: follow s→d; backward: d→s). Self always included."""
    s, d = ("s", "d") if forward else ("d", "s")

    def step(lab: DataFrame) -> DataFrame:
        cand = (edges.join(lab.select(F.col("node").alias(d),
                                      F.col("l").alias("dl")), d)
                .select(F.col(s).alias("node"), F.col("dl").alias("l")))
        return (lab.unionByName(cand)
                .groupBy("node").agg(F.min("l").alias("l")))

    return iterate("scc min-label propagation",
                   nodes.select("node", F.col("node").alias("l")),
                   step, ("node", "l"), max_rounds)


def scc_labels(edges: DataFrame, src: str = "src", dst: str = "dst",
               max_phases: int = 16,
               max_rounds: int = 64) -> DataFrame:
    """(node, scc_id) for every endpoint of a NON-self edge,
    scc_id = min member id. Self-loop edges are dropped during
    canonicalization, so a node whose ONLY edges are self-loops is
    absent from the output (the edge-derived node-set convention the
    other graph operators use — pass such nodes through a union
    downstream if they must appear as singletons; test-pinned).
    Singleton SCCs (no cycle through the node) label themselves.
    Raises if ``max_phases`` peels or ``max_rounds`` propagation
    rounds are exhausted first.
    """
    e0 = (edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
          .filter(F.col("s") != F.col("d"))
          .distinct().localCheckpoint(eager=False))
    remaining = (e0.select(F.col("s").alias("node"))
                 .union(e0.select(F.col("d").alias("node")))
                 .distinct().localCheckpoint(eager=False))
    e = e0
    settled_parts: list[DataFrame] = []
    done = False
    for _ in range(max_phases):
        if remaining.limit(1).count() == 0:
            done = True
            break
        f = _min_reach(remaining, e, True, max_rounds)
        b = _min_reach(remaining, e, False, max_rounds)
        settled = (f.join(b.select("node", F.col("l").alias("bl")),
                          "node")
                   .filter(F.col("l") == F.col("bl"))
                   .select("node", F.col("l").alias("scc_id"))
                   .localCheckpoint(eager=False))
        settled_parts.append(settled)
        remaining = (remaining.join(settled, "node", "left_anti")
                     .localCheckpoint(eager=False))
        keep = remaining.select(F.col("node"))
        e = (e.join(keep.select(F.col("node").alias("s")), "s")
             .join(keep.select(F.col("node").alias("d")), "d")
             .localCheckpoint(eager=False))
    # the emptiness probe sits at the TOP of the loop, so a graph
    # settling in exactly max_phases phases exits by exhaustion with
    # everything done — re-check after the loop, don't for/else-raise
    if not done and remaining.limit(1).count() > 0:
        raise RuntimeError(
            f"scc_labels did not settle every node in "
            f"max_phases={max_phases}")
    if not settled_parts:                       # edgeless input
        return remaining.select("node",
                                F.col("node").alias("scc_id"))
    out = settled_parts[0]
    for p in settled_parts[1:]:
        out = out.unionByName(p)
    return out


def condense(edges: DataFrame, labels: DataFrame,
             src: str = "src", dst: str = "dst") -> DataFrame:
    """The condensation DAG: map both endpoints through the SCC
    labels of :func:`scc_labels` and keep distinct inter-SCC edges
    (self-loops collapse away). Output (src, dst) over scc_ids —
    acyclic by construction, the graph crawl schedulers and
    dependency analyzers actually traverse. Two broadcast-or-hash
    equi-joins + one distinct."""
    lab_s = labels.select(F.col("node").alias("s"),
                          F.col("scc_id").alias("cs"))
    lab_d = labels.select(F.col("node").alias("d"),
                          F.col("scc_id").alias("cd"))
    return (edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
            .join(lab_s, "s").join(lab_d, "d")
            .filter(F.col("cs") != F.col("cd"))
            .select(F.col("cs").alias("src"), F.col("cd").alias("dst"))
            .distinct())


def topo_levels(dag: DataFrame, src: str = "src", dst: str = "dst",
                max_rounds: int = 64) -> DataFrame:
    """(node, level) longest-path layering of a DAG — level 0 for
    sources, else 1 + max predecessor level: the "wave" schedule a
    crawl/dependency executor runs (everything in one level is
    mutually independent given earlier levels).

    Iterative max-relaxation on :func:`osmspark.fixpoint.iterate`;
    rounds = DAG depth. Exact integers; raises on
    non-convergence — which on a CYCLIC input manifests as levels
    climbing past ``max_rounds``, so feeding a non-condensed graph
    fails loudly instead of looping forever.
    """
    e = (dag.select(F.col(src).alias("s"), F.col(dst).alias("d"))
         .filter(F.col("s") != F.col("d"))
         .distinct().localCheckpoint(eager=False))
    nodes = (e.select(F.col("s").alias("node"))
             .union(e.select(F.col("d").alias("node")))
             .distinct())

    def step(lab: DataFrame) -> DataFrame:
        cand = (e.join(lab.select(F.col("node").alias("s"),
                                  F.col("lv").alias("sl")), "s")
                .select(F.col("d").alias("node"),
                        (F.col("sl") + 1).alias("lv")))
        return (lab.unionByName(cand)
                .groupBy("node").agg(F.max("lv").alias("lv")))

    lab = iterate("topo_levels (on a cyclic input? condense() it first)",
                  nodes.select("node", F.lit(0).cast("long").alias("lv")),
                  step, ("node", "lv"), max_rounds)
    return lab.select("node", F.col("lv").alias("level"))
