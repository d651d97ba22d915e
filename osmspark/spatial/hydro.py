"""Raster hydrology — D8 flow direction + flow accumulation.

The classic terrain pair (watershed delineation, drainage density,
runoff modeling): every cell of an elevation raster drains to its
steepest DOWNHILL 8-neighbor (D8), and a cell's accumulation is the
number of cells whose flow path passes through it — the upstream-area
statistic hydrologists threshold to extract stream networks.

Determinism discipline: steepness comparisons are EXACT integers —
drop/distance ranks via cross-multiplied squares (drop² · dist²_other,
valid because drops are nonnegative and squaring is monotone there;
dist² ∈ {1, 2} for cardinal/diagonal) — and ties break by a fixed
(drop², then offset index) order, so the flow forest is bit-identical
on any engine. Cells with no lower neighbor are SINKS (no out-edge);
run :func:`fill_depressions` first when interior pits should drain
to the border instead of terminating basins.

Scale shape: D8 is one ``lattice.scatter`` to the 8 neighbour offsets,
an equi-join on the cell key + one min(struct) argmin — the
autocorr/k-ring neighborhood pattern, never an all-pairs join.
Accumulation iterates ``acc(v) ← 1 + Σ_{u→v} acc(u)`` (exact int64;
converges in flow-path depth on :func:`osmspark.fixpoint.iterate`) —
each round one equi-join of the O(cells) accumulator onto the flow
forest + one combinable sum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..fixpoint import iterate
from ..grid.lattice import D8, scatter

__all__ = ["d8_flow", "flow_accumulation", "watershed_labels",
           "fill_depressions", "slope_aspect", "ruggedness_index"]


def d8_flow(cells: DataFrame, elev_col: str = "elev",
            cx_col: str = "cell_x", cy_col: str = "cell_y") -> DataFrame:
    """(cell_x, cell_y, to_x, to_y, drop) — one row per NON-sink cell,
    pointing at its steepest strictly-lower 8-neighbor. ``drop`` is
    the integer elevation difference. Absent neighbors (raster edge,
    nodata holes) simply aren't candidates.

    int64 envelope: every drop must satisfy ``|drop| < 2^31``, since the
    steepness rank ``drop² · 2`` is computed in int64 and wraps past
    that (elevations in mm or cm are far inside it).
    """
    base = cells.select(F.col(cx_col).alias("cx"),
                        F.col(cy_col).alias("cy"),
                        F.col(elev_col).cast("long").alias("e"))
    nbrs = (scatter(base, ["cx", "cy"], D8, F.col("e").alias("oe"))
            .join(base, ["cx", "cy"])
            .filter(F.col("e") < F.col("oe")))
    drop = F.col("oe") - F.col("e")
    # steepness drop/√d2 ranked by the exact integer drop²·(2/d2):
    # cardinals (d2=1) weight 2, diagonals (d2=2) weight 1 — the
    # cross-multiplied square comparison, order-exact for drops ≥ 0
    cardinal = ((F.col("cx") == F.col("o_cx"))
                | (F.col("cy") == F.col("o_cy")))
    rank = drop * drop * F.when(cardinal, F.lit(2)).otherwise(F.lit(1))
    # ties break by the offset's dx-major index (the oracle's `oi`):
    # within one origin, ascending target (tx, ty) is that order
    pick = (nbrs.select(
        F.col("o_cx"), F.col("o_cy"),
        F.struct((-rank).alias("nr"),
                 F.col("cx").alias("tx"), F.col("cy").alias("ty"),
                 drop.alias("drop")).alias("cand"))
        .groupBy("o_cx", "o_cy")
        .agg(F.min("cand").alias("best")))
    return pick.select(F.col("o_cx").alias("cell_x"),
                       F.col("o_cy").alias("cell_y"),
                       F.col("best.tx").alias("to_x"),
                       F.col("best.ty").alias("to_y"),
                       F.col("best.drop").cast("long").alias("drop"))


def flow_accumulation(cells: DataFrame, flows: DataFrame,
                      cx_col: str = "cell_x", cy_col: str = "cell_y",
                      max_rounds: int = 64) -> DataFrame:
    """(cell_x, cell_y, acc) — acc = number of cells draining THROUGH
    each cell (its own cell included, the standard convention), over
    the D8 flow forest from :func:`d8_flow`. One round per edge of the
    longest flow path plus one confirming round, so ``max_rounds``
    must exceed the longest flow path's edge count; raises otherwise.
    A cyclic "flow" input — impossible from d8_flow, whose edges
    strictly descend — would also raise.
    """
    # checkpoint the STATIC inputs: without it every convergence
    # round re-executes the full upstream d8_flow plan (explode +
    # join + argmin + scan) hanging off these frames
    base = (cells.select(F.col(cx_col).alias("cx"),
                         F.col(cy_col).alias("cy"))
            .localCheckpoint(eager=False))
    e = (flows.select(F.col("cell_x").alias("ux"),
                      F.col("cell_y").alias("uy"),
                      F.col("to_x").alias("vx"),
                      F.col("to_y").alias("vy"))
         .localCheckpoint(eager=False))

    def step(acc: DataFrame) -> DataFrame:
        inflow = (e.join(acc.select(F.col("cx").alias("ux"),
                                    F.col("cy").alias("uy"),
                                    F.col("acc").alias("ua")),
                         ["ux", "uy"])
                  .groupBy(F.col("vx").alias("cx"),
                           F.col("vy").alias("cy"))
                  .agg(F.sum("ua").alias("inflow")))
        return (base.join(inflow, ["cx", "cy"], "left")
                .select("cx", "cy",
                        (F.lit(1) + F.coalesce(F.col("inflow"),
                                               F.lit(0).cast("long")))
                        .cast("long").alias("acc")))

    acc = iterate("flow_accumulation",
                  base.select("cx", "cy",
                              F.lit(1).cast("long").alias("acc")),
                  step, ("cx", "cy", "acc"), max_rounds)
    return acc.select(F.col("cx").alias("cell_x"),
                      F.col("cy").alias("cell_y"), "acc")


def watershed_labels(cells: DataFrame, flows: DataFrame,
                     cx_col: str = "cell_x", cy_col: str = "cell_y",
                     max_rounds: int = 32) -> DataFrame:
    """(cell_x, cell_y, sink_x, sink_y) — each cell labeled with the
    SINK its flow path terminates at: the watershed/basin partition
    (every drainage-area, pollutant-tracing and flood-zone query
    groups by this label).

    POINTER JUMPING, not step-by-step walking: each round replaces
    every cell's pointer with its pointer's pointer (sinks point at
    themselves), so path lengths halve per round and convergence takes
    ⌈log₂ depth⌉ rounds — the classic parallel list-ranking shortcut,
    vs flow-path-depth rounds for naive following. Per round ONE
    equi-join of the O(cells) pointer table with itself on the
    pointee key, driven by :func:`osmspark.fixpoint.iterate`.
    """
    ptr = (cells.select(F.col(cx_col).alias("cx"),
                        F.col(cy_col).alias("cy"))
           .join(flows.select(F.col("cell_x").alias("cx"),
                              F.col("cell_y").alias("cy"),
                              F.col("to_x").alias("px"),
                              F.col("to_y").alias("py")),
                 ["cx", "cy"], "left")
           .select("cx", "cy",
                   F.coalesce(F.col("px"), F.col("cx")).alias("px"),
                   F.coalesce(F.col("py"), F.col("cy")).alias("py")))

    def step(ptr: DataFrame) -> DataFrame:
        hop = ptr.select(F.col("cx").alias("px"),
                         F.col("cy").alias("py"),
                         F.col("px").alias("gx"),
                         F.col("py").alias("gy"))
        return (ptr.join(hop, ["px", "py"])
                .select("cx", "cy",
                        F.col("gx").alias("px"),
                        F.col("gy").alias("py")))

    ptr = iterate("watershed_labels pointer jumping", ptr, step,
                  ("cx", "cy", "px", "py"), max_rounds)
    return ptr.select(F.col("cx").alias("cell_x"),
                      F.col("cy").alias("cell_y"),
                      F.col("px").alias("sink_x"),
                      F.col("py").alias("sink_y"))


def fill_depressions(cells: DataFrame, elev_col: str = "elev",
                     cx_col: str = "cell_x", cy_col: str = "cell_y",
                     max_rounds: int = 128) -> DataFrame:
    """(cell_x, cell_y, elev, filled) — the Planchon-Darboux (2002)
    depression fill, the conditioning pass real DEM pipelines run
    BEFORE :func:`d8_flow` (an unfilled pit swallows its basin's flow;
    filling raises every interior depression to its spill level so
    every cell drains to the raster border).

    The parallel iteration: water level W starts at the cell's own
    elevation on BORDER cells (any cell with < 8 present neighbors —
    holes in the raster count as border, the standard convention) and
    +∞ inside; each round every interior cell relaxes to

        W(v) ← max(elev(v), min over 8-neighbors of W(u))

    monotonically draining until the fixpoint — exact integers,
    :func:`osmspark.fixpoint.iterate` detects convergence, rounds bounded by
    the longest interior drainage path (``max_rounds`` guards flats).
    Per round: one ``lattice.scatter`` D8 join of the O(cells) level
    table + one combinable min + one static join — the
    flow_accumulation shape. ``filled = W − elev`` isolates the poured depth.
    """
    base = cells.select(F.col(cx_col).alias("cx"),
                        F.col(cy_col).alias("cy"),
                        F.col(elev_col).cast("long").alias("e"))
    ncount = (scatter(base, ["cx", "cy"], D8)
              .join(base.select("cx", "cy"), ["cx", "cy"])
              .groupBy(F.col("o_cx").alias("cx"), F.col("o_cy").alias("cy"))
              .agg(F.count(F.lit(1)).alias("n_nbrs")))
    big = F.lit(1 << 60).cast("long")
    state = (base.join(ncount, ["cx", "cy"], "left")
             .select("cx", "cy", "e",
                     (F.coalesce(F.col("n_nbrs"), F.lit(0)) == 8)
                     .alias("interior"))
             .select("cx", "cy", "e", "interior",
                     F.when(F.col("interior"), big)
                     .otherwise(F.col("e")).alias("w")))

    def step(state: DataFrame) -> DataFrame:
        nbr_min = (scatter(state, ["cx", "cy"], D8, "w")
                   .groupBy("cx", "cy")
                   .agg(F.min("w").alias("nw")))
        return (state.join(nbr_min, ["cx", "cy"], "left")
                .select("cx", "cy", "e", "interior",
                        F.when(F.col("interior"),
                               F.greatest(F.col("e"),
                                          F.coalesce(F.col("nw"), big)))
                        .otherwise(F.col("e")).alias("w")))

    state = iterate("fill_depressions (very long interior drainage path "
                    "or a flat plateau chain)", state, step,
                    ("cx", "cy", "w"), max_rounds)
    return state.select(
        F.col("cx").alias("cell_x"),
        F.col("cy").alias("cell_y"),
        F.col("e").alias("elev"),
        (F.col("w") - F.col("e")).cast("long").alias("filled"))


def slope_aspect(cells: DataFrame, elev_col: str = "elev",
                 cx_col: str = "cell_x",
                 cy_col: str = "cell_y") -> DataFrame:
    """(cell_x, cell_y, gx, gy, slope, aspect_deg) — Horn's 3×3
    finite-difference terrain derivatives (the hillshade/solar/erosion
    input): per INTERIOR cell (all 8 neighbors present — the standard
    raster-edge convention, documented)

        gx = (e_ne + 2·e_e + e_se) − (e_nw + 2·e_w + e_sw)
        gy = (e_nw + 2·e_n + e_ne) − (e_sw + 2·e_s + e_se)

    both EXACT int64 (the 8× cell-size denominator is the caller's
    unit scaling); ``slope`` = √(gx² + gy²) and ``aspect_deg`` =
    atan2(gy, gx) in (−180, 180] are the only floats — fixed-shape
    IEEE ops on identical integers (the with_bearing trig precedent),
    rounded 9 dp. One ``lattice.scatter`` D8 join + one combinable
    conditional-sum aggregation; the all-8 filter is the exact
    n_nbrs = 8 census.
    """
    base = cells.select(F.col(cx_col).alias("cx"),
                        F.col(cy_col).alias("cy"),
                        F.col(elev_col).cast("long").alias("e"))
    # scatter every cell's elevation to each neighbor; the
    # RECEIVER-relative offset is the reverse of the scatter direction
    recv = (scatter(base, ["cx", "cy"], D8, F.col("e").alias("ne_"))
            .join(base.select("cx", "cy"), ["cx", "cy"]))
    rdx = F.col("o_cx") - F.col("cx")
    rdy = F.col("o_cy") - F.col("cy")
    wx = rdx * F.when(rdy == 0, 2).otherwise(1)
    wy = rdy * F.when(rdx == 0, 2).otherwise(1)
    g = (recv.groupBy("cx", "cy")
         .agg(F.count(F.lit(1)).alias("n_nbrs"),
              F.sum(wx * F.col("ne_")).alias("gx"),
              F.sum(wy * F.col("ne_")).alias("gy"))
         .filter(F.col("n_nbrs") == 8))
    gxd = F.col("gx").cast("double")
    gyd = F.col("gy").cast("double")
    return g.select(
        F.col("cx").alias("cell_x"), F.col("cy").alias("cell_y"),
        F.col("gx").cast("long").alias("gx"),
        F.col("gy").cast("long").alias("gy"),
        F.round(F.sqrt(gxd * gxd + gyd * gyd), 9).alias("slope"),
        F.round(F.degrees(F.atan2(gyd, gxd)), 9).alias("aspect_deg"))


def ruggedness_index(cells: DataFrame, elev_col: str = "elev",
                     cx_col: str = "cell_x",
                     cy_col: str = "cell_y") -> DataFrame:
    """(cell_x, cell_y, n_nbrs, sq_sum, tri) — Riley's Terrain
    Ruggedness Index: √Σ(e_nbr − e)² over the 8-neighborhood, the
    local-relief heterogeneity metric (habitat modeling, route-cost
    surfaces). ``sq_sum`` is the EXACT int64 quadratic (partial
    neighborhoods at raster edges use the neighbors present —
    n_nbrs reports how many, Riley's original convention); the single
    sqrt is the only float, 9 dp. One ``lattice.scatter`` D8 join + one
    combinable aggregation — the slope_aspect shape without the
    interior restriction.
    """
    base = cells.select(F.col(cx_col).alias("cx"),
                        F.col(cy_col).alias("cy"),
                        F.col(elev_col).cast("long").alias("e"))
    scat = scatter(base, ["cx", "cy"], D8, F.col("e").alias("ne_"))
    d = F.col("ne_") - F.col("e")
    g = (scat.join(base, ["cx", "cy"])
         .groupBy("cx", "cy")
         .agg(F.count(F.lit(1)).alias("n_nbrs"),
              F.sum(d * d).alias("sq_sum")))
    return g.select(F.col("cx").alias("cell_x"),
                    F.col("cy").alias("cell_y"),
                    F.col("n_nbrs").cast("long").alias("n_nbrs"),
                    F.col("sq_sum").cast("long").alias("sq_sum"),
                    F.round(F.sqrt(F.col("sq_sum").cast("double")), 9)
                    .alias("tri"))
