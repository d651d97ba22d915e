"""Tile aggregation: raster (z/x/y web-mercator) ↔ vector (hex / S2 cells).

North-rule operator "raster↔vector tile aggregation producing per-cell
counts". All aggregation is plain DataFrame groupBy (map-side partial agg +
final hash agg — Catalyst handles the two-phase plan), and every cell-id
encode (hex, S2, raster z/x/y) is a pure Spark SQL expression — JVM
codegen, no Python worker; the raster variant is fully SQL-expressible
for the DuckDB oracle.

Scale notes: groupBy(cell) shuffles on the cell key; dense city cells are
the skew axis — ``tile_counts`` therefore supports two-phase salted
aggregation (partial count on (cell, salt) → final sum on cell), which
turns one hot reducer into ``n_salts`` parallel ones. Rollup to a coarser
resolution re-aggregates *tile counts* (tiny), never the raw points.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

from ..grid.hexgrid_sql import hex_cell_col

__all__ = ["with_hex_cell", "with_s2_cell", "tile_counts", "rollup",
           "raster_tile_counts", "tile_pyramid", "kring_smooth",
           "with_quadkey", "tile_mode"]


def with_hex_cell(df: DataFrame, res: int, lat_col: str = "lat",
                  lon_col: str = "lon", out: str = "cell") -> DataFrame:
    """Hex encode as a pure SQL expression — whole-stage codegen, no
    Python worker (bit-identical to hexgrid.cell_id; pinned by tests)."""
    return df.withColumn(out, hex_cell_col(F.col(lat_col), F.col(lon_col), res))


def with_s2_cell(df: DataFrame, level: int, lat_col: str = "lat",
                 lon_col: str = "lon", out: str = "cell") -> DataFrame:
    """S2 encode as pure SQL expressions — whole-stage codegen, no
    Python worker (bit-identical to the NumPy S2 oracle; pinned by tests)."""
    from ..grid.s2_sql import with_s2_cell_sql
    return with_s2_cell_sql(df, level, lat_col, lon_col, out)


def tile_counts(df: DataFrame, res: int, grid: str = "hex",
                lat_col: str = "lat", lon_col: str = "lon",
                salt: int = 0) -> DataFrame:
    """Per-cell counts + centroid at one resolution.

    ``salt > 0`` → two-phase agg: partial on (cell, salt) then final on
    cell. With map-side combine the partial pass is nearly free and the
    final pass sees ≤ salt rows per hot cell.
    """
    if grid == "hex":
        with_cell = df.withColumn(
            "cell", hex_cell_col(F.col(lat_col), F.col(lon_col), res))
    else:
        with_cell = with_s2_cell(df, res, lat_col, lon_col, "cell")
    aggs = [
        F.count(F.lit(1)).alias("n_points"),
        F.sum(lat_col).alias("_sum_lat"),
        F.sum(lon_col).alias("_sum_lon"),
    ]
    if salt > 0:
        partial = (with_cell
                   .withColumn("_salt", F.pmod(F.hash(lat_col, lon_col), F.lit(salt)))
                   .groupBy("cell", "_salt").agg(*aggs))
        grouped = partial.groupBy("cell").agg(
            F.sum("n_points").alias("n_points"),
            F.sum("_sum_lat").alias("_sum_lat"),
            F.sum("_sum_lon").alias("_sum_lon"))
    else:
        grouped = with_cell.groupBy("cell").agg(*aggs)
    return (grouped
            .withColumn("centroid_lat", F.col("_sum_lat") / F.col("n_points"))
            .withColumn("centroid_lon", F.col("_sum_lon") / F.col("n_points"))
            .drop("_sum_lat", "_sum_lon")
            .withColumn("res", F.lit(res)))


def rollup(tiles: DataFrame, parent_res: int, grid: str = "hex") -> DataFrame:
    """Re-aggregate per-cell counts to a coarser resolution.

    Operates on the tile table, not raw points; parent ids are pure SQL
    expressions (hex: decode-center → re-encode, i.e. center
    containment, like H3; s2: lsb mask arithmetic) — no Python
    worker even when the tile table itself is big. Counts sum exactly
    (child counts partition parent counts — pinned by tests)."""
    if grid == "hex":
        from ..grid.hexgrid_sql import hex_cell_col, hex_center_cols
        # stage the decoded centers as COLUMNS before re-encoding:
        # inlining them duplicates the per-res CASE tree once per
        # reference inside the encode and Catalyst pays ~seconds of
        # substitution per action (the s2_sql.py:40-52 landmine —
        # measured 1.0 → 2.6s on the bench rollup); across a projection
        # boundary the encode references two plain attributes
        c_lat, c_lon = hex_center_cols(F.col("cell"))
        tiles = tiles.withColumns({"_clat": c_lat, "_clon": c_lon})
        par = hex_cell_col(F.col("_clat"), F.col("_clon"), parent_res)
    else:
        from ..grid.s2_sql import s2_parent_col
        par = s2_parent_col(F.col("cell"), parent_res)
    return (tiles
            .withColumn("parent_cell", par)
            .groupBy("parent_cell")
            .agg(F.sum("n_points").alias("n_points"))
            .withColumnRenamed("parent_cell", "cell")
            .withColumn("res", F.lit(parent_res)))


def raster_tile_counts(df: DataFrame, zoom: int,
                       lat_col: str = "lat", lon_col: str = "lon") -> DataFrame:
    """Web-mercator z/x/y raster tile counts — pure Spark expressions.

    x = floor((lon+180)/360·2^z); y from the mercator formula. Clamps to
    the mercator latitude domain. SQL-expressible → DuckDB oracle.
    """
    n = float(1 << zoom)
    lat = F.greatest(F.lit(-85.05112878), F.least(F.lit(85.05112878), F.col(lat_col)))
    lat_rad = F.radians(lat)
    x = F.floor((F.col(lon_col) + F.lit(180.0)) / F.lit(360.0) * F.lit(n))
    y = F.floor((F.lit(1.0) - F.log(F.tan(lat_rad) + F.lit(1.0) / F.cos(lat_rad))
                 / F.lit(float(np.pi))) / F.lit(2.0) * F.lit(n))
    x = F.greatest(F.lit(0), F.least(F.lit(int(n) - 1), x.cast("long")))
    y = F.greatest(F.lit(0), F.least(F.lit(int(n) - 1), y.cast("long")))
    return (df.withColumn("tile_x", x).withColumn("tile_y", y)
            .groupBy("tile_x", "tile_y")
            .agg(F.count(F.lit(1)).alias("n_points"))
            .withColumn("zoom", F.lit(zoom)))


def tile_pyramid(df: DataFrame, zooms: tuple[int, ...] = (4, 6, 8),
                 lat_col: str = "lat", lon_col: str = "lon") -> DataFrame:
    """Per-tile counts at SEVERAL zooms in ONE scan + ONE shuffle.

    The naive pyramid is one groupBy per zoom — Z scans of the point
    table. Here the z/x/y id is computed once at the finest zoom and
    coarser ids derive by bit shift (``x_z' = x_z >> (z - z')`` — exact
    by the nested-floor identity ``floor(floor(a·2^z)/2^(z-z')) =
    floor(a·2^z')``, which the oracle verifies by computing every zoom
    from the raw formula independently). GROUPING SETS then aggregates
    all zooms in one pass: Spark's Expand emits one row per grouping
    set into a single partial-agg → shuffle → final-agg pipeline.
    At 100 TB this is the difference between Z full scans and one.
    """
    zs = sorted(set(int(z) for z in zooms), reverse=True)
    zmax = zs[0]
    n = float(1 << zmax)
    lat = F.greatest(F.lit(-85.05112878),
                     F.least(F.lit(85.05112878), F.col(lat_col)))
    lat_rad = F.radians(lat)
    x = F.floor((F.col(lon_col) + F.lit(180.0)) / F.lit(360.0) * F.lit(n))
    y = F.floor((F.lit(1.0) - F.log(F.tan(lat_rad) + F.lit(1.0) / F.cos(lat_rad))
                 / F.lit(float(np.pi))) / F.lit(2.0) * F.lit(n))
    x = F.greatest(F.lit(0), F.least(F.lit(int(n) - 1), x.cast("long")))
    y = F.greatest(F.lit(0), F.least(F.lit(int(n) - 1), y.cast("long")))
    out = df.withColumn(f"_x{zmax}", x).withColumn(f"_y{zmax}", y)
    for z in zs[1:]:
        out = out.withColumn(f"_x{z}", F.shiftright(F.col(f"_x{zmax}"),
                                                    zmax - z))
        out = out.withColumn(f"_y{z}", F.shiftright(F.col(f"_y{zmax}"),
                                                    zmax - z))
    sets = [[f"_x{z}", f"_y{z}"] for z in zs]
    flat = [c for s in sets for c in s]
    zoom = None
    for z in zs:
        cond = F.grouping(f"_x{z}") == 0
        zoom = F.when(cond, F.lit(z)) if zoom is None \
            else zoom.when(cond, F.lit(z))
    agg = (out.groupingSets(sets, *[F.col(c) for c in flat])
           .agg(F.count(F.lit(1)).alias("n_points"),
                zoom.alias("zoom"),
                F.coalesce(*[F.col(f"_x{z}") for z in zs]).alias("tile_x"),
                F.coalesce(*[F.col(f"_y{z}") for z in zs]).alias("tile_y")))
    return agg.select("zoom", "tile_x", "tile_y", "n_points")


def kring_smooth(tiles: DataFrame, ring: int = 1,
                 value_col: str = "n_points") -> DataFrame:
    """Focal (neighborhood) sum over a hex tile layer: each cell's
    smoothed value is the sum of ``value_col`` over its k-ring disk —
    the hex analogue of a raster convolution with a box kernel.

    The cell id packs axial (q, r) in bit fields (hexgrid.pack), so a
    neighbor id is PLAIN INTEGER ADDITION: ``id + (dq<<30) + dr``. The
    operator explodes each tile to its |disk(ring)| = 1+3·ring·(ring+1)
    scatter targets (a driver-built literal array) and re-aggregates —
    one shuffle on the cell key, all codegen, no Python, and it runs on
    the TILE table (post-aggregation), never the raw points. Cells with
    zero own-count but a nonzero neighborhood appear in the output —
    standard focal-sum semantics on a sparse layer."""
    deltas = [(dq, dr)
              for dq in range(-ring, ring + 1)
              for dr in range(max(-ring, -dq - ring),
                              min(ring, -dq + ring) + 1)]
    arr = F.array(*[F.lit((dq << 30) + dr) for dq, dr in deltas])
    return (tiles
            .select(F.col("cell"), F.col(value_col))
            .withColumn("_d", F.explode(arr))
            .withColumn("cell", F.col("cell") + F.col("_d"))
            .groupBy("cell")
            .agg(F.sum(value_col).alias("n_smooth"))
            .withColumn("ring", F.lit(ring)))


def with_quadkey(df: DataFrame, zoom: int) -> DataFrame:
    """Bing-maps quadkey string for (tile_x, tile_y) at ``zoom`` — the
    string tile address web-map stacks key caches/CDNs by. Digit i
    (from the most significant level) interleaves one y bit over one x
    bit: ``2·y_bit + x_bit``; length = zoom. Pure codegen (shiftright +
    bit-and + array_join); a quadkey PREFIX selects a subtree, so
    range-partitioning output by quadkey co-locates spatial neighbors —
    the string-keyed analog of the packed-int cell layouts used by the
    hex/S2/geohash families.
    """
    digits = F.expr(
        f"""array_join(transform(sequence({zoom - 1}, 0, -1), i ->
              cast((shiftright(tile_x, i) & 1)
                   + 2 * (shiftright(tile_y, i) & 1) as string)), '')""")
    return df.withColumn("quadkey", digits)


def tile_mode(df: DataFrame, res: int, cat_col: str, grid: str = "hex",
              lat_col: str = "lat", lon_col: str = "lon") -> DataFrame:
    """Dominant category per cell — (cell, top_cat, top_n, n_points).

    The thematic-map primitive (dominant language / event type / land
    use per tile). The per-cell argmax is a ``min(struct(-count,
    category))`` AGGREGATE over the (cell, category) census — both
    passes map-side combinable, never a row_number window, so a city
    cell with 10^9 points reduces per task before either shuffle. Ties
    break to the lexicographically first category.
    """
    if grid == "hex":
        with_cell = df.withColumn(
            "cell", hex_cell_col(F.col(lat_col), F.col(lon_col), res))
    else:
        with_cell = with_s2_cell(df, res, lat_col, lon_col, "cell")
    census = (with_cell.groupBy("cell", F.col(cat_col).alias("cat"))
              .agg(F.count(F.lit(1)).alias("c")))
    return (census.groupBy("cell")
            .agg(F.min(F.struct((-F.col("c")).alias("negc"),
                                F.col("cat").alias("cat"))).alias("m"),
                 F.sum("c").cast("long").alias("n_points"))
            .select("cell", F.col("m.cat").alias("top_cat"),
                    (-F.col("m.negc")).cast("long").alias("top_n"),
                    "n_points"))
