"""Grid-based DBSCAN clustering over a point DataFrame.

DBSCAN (Ester et al., KDD '96 — public algorithm) re-expressed
Spark-first: the per-point eps-neighborhood query that makes naive
DBSCAN O(n²) is the :func:`osmspark.spatial.dwithin.dwithin_join` grid
equi-join (cell = eps, 3×3 neighborhood explode, exact dist² refine —
complete and duplicate-free by construction), and the sequential
cluster expansion is connected components over the core-core eps-graph
via pointer-jumping min-label propagation
(:func:`osmspark.graph.cc.cc_labels` — O(log diameter) rounds; spatial
components are DEEP, a city-sized blob at eps resolution has diameter
in the hundreds, so the one-hop propagation that suffices for shallow
near-dup graphs would shuffle hundreds of times). The reference engine
(osm-read) has no clustering at all — this is a gap-table operator a
geospatial corpus pipeline needs (e.g. collapsing dense POI/event
swarms before sampling).

Deterministic semantics (the textbook leaves border assignment
order-dependent; every choice here is canonical so a SQL oracle can
reproduce the output exactly):

- ``|N_eps(p)|`` counts p itself (textbook definition); p is **core**
  iff ``|N_eps(p)| >= min_pts``.
- Every core point belongs to exactly one cluster — the connected
  component of the core-core eps-graph; ``cluster_id`` = min core id
  in the component.
- A **border** point (non-core with ≥1 core eps-neighbor) joins the
  MIN ``cluster_id`` among its core neighbors.
- **Noise** (non-core, no core neighbor): ``cluster_id`` null.

Distance is squared planar degrees — the engine-wide metric (see
knn._dist2 / dwithin) — so oracles compare bit-exactly.

Scale shape: one cell-keyed shuffle builds ALL eps-pairs (AQE
skew-split absorbs dense city cells); degree, core filter and border
assignment are id-keyed aggs/joins over the pair table; each CC
iteration is one shuffle join, bounded by the core-graph diameter
(eps-graphs of dense clusters are shallow — hub-rich, so a handful of
passes). Nothing is quadratic, nothing collects to the driver.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from osmspark.graph.cc import cc_labels
from osmspark.spatial.dwithin import colocate_join, dwithin_join

__all__ = ["dbscan", "st_dbscan"]


def dbscan(points: DataFrame, eps: float, min_pts: int,
           id_col: str = "id", max_iters: int = 30) -> DataFrame:
    """(id, is_core, cluster_id) DBSCAN labels for every input point.

    ``points``: (id, lat, lon). ``cluster_id`` is the min core id of
    the cluster (null for noise); ``is_core`` distinguishes border
    points (non-core members) from cores. ``max_iters`` bounds the
    pointer-jumping rounds (covers diameter ~3^max_iters — see
    ``cc_labels``; it raises rather than return split clusters).

    The eps-pair table is lazily local-checkpointed, since downstream
    consumes it three times (degree, core-core edges, border
    assignment) — without it the grid join recomputes per consumer.
    Same fault-tolerance trade-off as ``dedup.lsh_candidate_pairs``:
    localCheckpoint truncates lineage, so an executor loss mid-job
    fails the job instead of recomputing.
    """
    if min_pts < 1:
        raise ValueError(f"min_pts must be >= 1: {min_pts}")
    pts = points.select(F.col(id_col).alias("id"),
                        F.col("lat").cast("double"),
                        F.col("lon").cast("double"))
    # all ordered eps-pairs INCLUDING the (p, p) diagonal — so the
    # per-a_id count is |N_eps(p)| with p itself, the textbook measure
    pairs = (dwithin_join(pts, pts, eps, keep_self=True)
             .select("a_id", "b_id").localCheckpoint(eager=False))

    c = float(eps) / math.sqrt(2.0)
    cell = [(F.floor(F.col("lon") / c)).cast("long").alias("_cx"),
            (F.floor(F.col("lat") / c)).cast("long").alias("_cy")]
    return _labels_from_pairs(pts, pairs, cell, ["_cx", "_cy"],
                              min_pts, max_iters)


def _labels_from_pairs(pts, pairs, cell, cell_keys, min_pts, max_iters):
    """Shared DBSCAN labeling tail: degree census → core filter →
    supernode cell contraction → CC → border assignment. ``cell`` is
    the list of contraction-cell column expressions over ``pts``
    (sized so same-cell cores are PAIRWISE connected — eps/√2 spatial
    cells; plus an eps_t-width time bin for the ST variant)."""
    deg = pairs.groupBy("a_id").agg(F.count(F.lit(1)).alias("_n_nb"))
    core = (deg.filter(F.col("_n_nb") >= min_pts)
            .select(F.col("a_id").alias("id")))

    # cell contraction (grid-DBSCAN reduction): the cell diagonal is
    # exactly the connectivity radius, so cores sharing a cell are
    # pairwise connected and collapse to ONE supernode (id = the
    # cell's min core id) before CC — the component graph shrinks from
    # points to occupied cells (dense areas by their occupancy
    # factor), identical labels by construction (component min is
    # preserved through the per-cell min). A neighborless supernode
    # still seeds its own singleton cluster (a core point ALWAYS
    # forms a cluster).
    core_cells = (pts.join(core, "id").select("id", *cell))
    cell_min = (core_cells.groupBy(*cell_keys)
                .agg(F.min("id").alias("_snode")))
    core_snode = (core_cells.join(cell_min, cell_keys)
                  .select("id", "_snode")
                  .localCheckpoint(eager=False))

    core_edges = (pairs
                  .filter(F.col("a_id") < F.col("b_id"))
                  .join(core_snode.select(F.col("id").alias("a_id"),
                                          F.col("_snode").alias("a")),
                        "a_id")
                  .join(core_snode.select(F.col("id").alias("b_id"),
                                          F.col("_snode").alias("b")),
                        "b_id")
                  .filter(F.col("a") != F.col("b"))
                  .select("a", "b").distinct())
    snodes = core_snode.select(F.col("_snode").alias("id")).distinct()
    snode_labels = cc_labels(snodes, core_edges, max_rounds=max_iters)
    core_labels = (core_snode
                   .join(snode_labels.select(F.col("id").alias("_snode"),
                                             "label"), "_snode")
                   .select("id", F.col("label").alias("_core_label")))

    # border candidates: min core-neighbor cluster per point (the
    # deterministic stand-in for the textbook's first-found assignment);
    # computed for every point but only applied to non-cores below
    nb_core = (pairs
               .filter(F.col("a_id") != F.col("b_id"))
               .join(core_labels.select(F.col("id").alias("b_id"),
                                        F.col("_core_label")), "b_id")
               .groupBy("a_id")
               .agg(F.min("_core_label").alias("_border_label")))

    out = (pts.select("id")
           .join(core_labels, "id", "left")
           .join(nb_core.select(F.col("a_id").alias("id"),
                                "_border_label"), "id", "left"))
    is_core = F.col("_core_label").isNotNull()
    return out.select(
        "id",
        is_core.alias("is_core"),
        F.coalesce(F.col("_core_label"), F.col("_border_label"))
        .alias("cluster_id"))


def st_dbscan(points: DataFrame, eps: float, eps_t_us: int,
              min_pts: int, id_col: str = "id",
              max_iters: int = 30) -> DataFrame:
    """ST-DBSCAN (Birant & Kut 2007, public algorithm): DBSCAN whose
    eps-neighborhood requires BOTH dist² ≤ eps² and |Δt| ≤ eps_t —
    clusters that are dense in space AND time (an event swarm at one
    place across a whole month is NOT one cluster here; the same
    swarm within an evening is).

    Same deterministic semantics and labeling tail as :func:`dbscan`
    (|N(p)| counts p; cluster id = min core id; border → min core
    neighbor; noise null) — only two pieces change:

    - pair generation is the 3-D bucket equi-join
      :func:`osmspark.spatial.dwithin.colocate_join` (27-bucket
      cover on (cell, cell, time-bin), complete and duplicate-free);
    - the supernode contraction cell gains a time axis: spatial cell
      eps/√2 (diagonal = eps) × time bin of width eps_t, so same-cell
      cores remain PAIRWISE connected (|Δt| < eps_t inside one bin)
      and the contraction stays label-exact.

    ``points``: (id, lat, lon, ts_us). Output (id, is_core,
    cluster_id), cluster_id null for noise.
    """
    if min_pts < 1:
        raise ValueError(f"min_pts must be >= 1: {min_pts}")
    pts = points.select(F.col(id_col).alias("id"),
                        F.col("lat").cast("double"),
                        F.col("lon").cast("double"),
                        F.col("ts_us").cast("long"))
    pairs = (colocate_join(pts, pts, eps, eps_t_us, keep_self=True)
             .select("a_id", "b_id").localCheckpoint(eager=False))

    c = float(eps) / math.sqrt(2.0)
    cell = [(F.floor(F.col("lon") / c)).cast("long").alias("_cx"),
            (F.floor(F.col("lat") / c)).cast("long").alias("_cy"),
            (F.floor(F.col("ts_us") / F.lit(float(int(eps_t_us))))
             .cast("long").alias("_ct"))]
    return _labels_from_pairs(pts, pairs, cell, ["_cx", "_cy", "_ct"],
                              min_pts, max_iters)
