"""Quadtree tile-set compaction (H3 ``compact`` / S2 ``CellUnion.
Normalize`` analogue for web-mercator tiles): replace every complete
4-sibling set by its parent, recursively, producing the MINIMAL
mixed-zoom cell set covering exactly the same leaf area.

Why it matters at 100 TB: AOI masks rasterized by
``polyfill.polyfill_raster`` are dense contiguous blobs — a country at
z12 is millions of leaf tiles, but compacts to thousands of mixed-zoom
cells. The compact set is what you BROADCAST to filter a 10^12-row point
table (each point probes its z12 ancestor chain — ``zoom`` levels of
integer shifts against a hash set — instead of one huge leaf-set
membership test), and what you store as the canonical region cover.

Scale shape: the input is a TILE table (≤ 4^zoom rows — orders of
magnitude smaller than the point table that produced it). Compaction is
``zoom`` chained ``groupBy(parent)`` passes on a frame that SHRINKS at
every level (children of incomplete parents exit the loop as emitted
output); each pass is a map-side-combinable count over ≤ 4-row groups,
so the whole lineage is a handful of small shuffles, all lazy — one job
when the result is consumed. No Python workers; sibling sets ride as
≤ 4-element structs, never a window.

Cell addressing matches ``tiles.raster_tile_counts`` / ``with_quadkey``:
(x, y) web-mercator tile indices, parent = (x >> 1, y >> 1) — the
quadkey-prefix relation, so a compact cell's quadkey is a PREFIX of all
its leaves' quadkeys (compact set == minimal prefix cover).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F

__all__ = ["compact_tiles"]


def compact_tiles(tiles: DataFrame, zoom: int, x_col: str = "tile_x",
                  y_col: str = "tile_y") -> DataFrame:
    """(zoom, tile_x, tile_y): minimal mixed-zoom cover of the input.

    ``tiles``: cells at uniform ``zoom`` (duplicates tolerated — the
    first step distincts). A parent is promoted iff ALL 4 children are
    present (count == 4 after distinct); promotion recurses to zoom 0.
    Output invariants (pinned by tests): expanding each output cell to
    its zoom-``zoom`` descendants reproduces the input set exactly; no
    output cell is an ancestor of another; no 4 output siblings share a
    parent.
    """
    if zoom < 0:
        raise ValueError("zoom must be >= 0")
    cur = tiles.select(F.col(x_col).cast("long").alias("x"),
                       F.col(y_col).cast("long").alias("y")).distinct()
    outs = []
    for z in range(zoom, 0, -1):
        g = (cur.groupBy(F.shiftright("x", 1).alias("px"),
                         F.shiftright("y", 1).alias("py"))
             .agg(F.count(F.lit(1)).alias("n"),
                  F.collect_list(F.struct("x", "y")).alias("kids")))
        outs.append(g.filter(F.col("n") < 4)
                    .select(F.lit(z).alias("zoom"),
                            F.explode("kids").alias("k"))
                    .select("zoom", F.col("k.x").alias("x"),
                            F.col("k.y").alias("y")))
        cur = g.filter(F.col("n") == 4).select(
            F.col("px").alias("x"), F.col("py").alias("y"))
    outs.append(cur.select(F.lit(0).alias("zoom"), "x", "y"))
    out = reduce(DataFrame.unionByName, outs)
    return out.select("zoom", F.col("x").alias("tile_x"),
                      F.col("y").alias("tile_y"))
