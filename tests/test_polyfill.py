"""Polygon→tile rasterization — osmspark/spatial/polyfill.py.

Pins: consistency with raster_tile_counts' x/y encode (the whole point
of sharing the formulas is that polyfill output equi-joins point tile
ids), the center-in rule (tiny polygon → empty set), concavity (notch
tiles excluded), and pole clamping.
"""

from osmspark.spatial.polyfill import polyfill_raster
from osmspark.spatial.tiles import raster_tile_counts

ZOOM = 6


def _polys(spark, rows):
    return spark.createDataFrame(
        rows, "poly_id long, ring_lat array<double>, ring_lon array<double>")


def test_rect_polyfill_matches_point_encode(spark):
    """Every tile polyfill keeps must be exactly the tile that
    raster_tile_counts assigns to that tile's center point."""
    polys = _polys(spark, [
        (1, [10.0, 10.0, 30.0, 30.0], [40.0, 70.0, 70.0, 40.0])])
    tiles = polyfill_raster(polys, ZOOM).collect()
    assert len(tiles) > 4
    n = float(1 << ZOOM)
    import math
    centers = [(math.degrees(math.atan(math.sinh(
                    math.pi * (1 - 2 * (t.tile_y + 0.5) / n)))),
                (t.tile_x + 0.5) / n * 360.0 - 180.0,
                t.tile_x, t.tile_y) for t in tiles]
    pts = spark.createDataFrame(
        [(la, lo) for la, lo, _, _ in centers], "lat double, lon double")
    got = {(r.tile_x, r.tile_y)
           for r in raster_tile_counts(pts, ZOOM).collect()}
    assert got == {(x, y) for _, _, x, y in centers}


def test_tiny_polygon_catches_no_center(spark):
    """Center-in rule: a polygon that contains no tile center yields
    zero tiles (candidates exist — the bbox overlaps a tile)."""
    polys = _polys(spark, [
        (1, [10.001, 10.001, 10.002, 10.002], [40.001, 40.002, 40.002, 40.001])])
    assert polyfill_raster(polys, ZOOM).count() == 0


def test_concave_notch_excluded(spark):
    """U-shape: bbox candidates cover the notch, the refine drops it."""
    # U spanning lat 0..30, lon 0..20 with notch lon 5..20, lat 10..30
    polys = _polys(spark, [
        (1, [0.0, 0.0, 30.0, 30.0, 10.0, 10.0, 30.0, 30.0],
            [0.0, 20.0, 20.0, 15.0, 15.0, 5.0, 5.0, 0.0])])
    tiles = {(t.tile_x, t.tile_y) for t in
             polyfill_raster(polys, ZOOM).collect()}
    n = float(1 << ZOOM)
    import math
    def center(x, y):
        return (math.degrees(math.atan(math.sinh(
                    math.pi * (1 - 2 * (y + 0.5) / n)))),
                (x + 0.5) / n * 360.0 - 180.0)
    # some kept tile exists in each arm, none inside the notch
    assert tiles
    for x, y in tiles:
        la, lo = center(x, y)
        in_notch = 5.0 < lo < 15.0 and 10.0 < la < 30.0
        assert not in_notch, (x, y, la, lo)


def test_pole_spanning_ring_clamps(spark):
    """Rings beyond the mercator domain clamp instead of exploding the
    candidate range (y stays within [0, 2^z))."""
    polys = _polys(spark, [
        (1, [80.0, 80.0, 89.9, 89.9], [-10.0, 10.0, 10.0, -10.0])])
    rows = polyfill_raster(polys, ZOOM).collect()
    assert all(0 <= r.tile_y < (1 << ZOOM) for r in rows)


def test_shared_edge_tiles_partition(spark):
    """Two rectangles sharing an edge: no tile is claimed by both
    (center-in is a partition for non-overlapping interiors)."""
    polys = _polys(spark, [
        (1, [0.0, 0.0, 20.0, 20.0], [0.0, 10.0, 10.0, 0.0]),
        (2, [0.0, 0.0, 20.0, 20.0], [10.0, 20.0, 20.0, 10.0])])
    rows = polyfill_raster(polys, ZOOM).collect()
    seen = {}
    for r in rows:
        assert seen.setdefault((r.tile_x, r.tile_y), r.poly_id) == r.poly_id


def test_no_shuffle_in_plan(spark):
    """Per-polygon fan-out is embarrassingly parallel: the executed
    plan must contain no Exchange."""
    polys = _polys(spark, [
        (1, [10.0, 10.0, 30.0, 30.0], [40.0, 70.0, 70.0, 40.0])])
    plan = polyfill_raster(polys, ZOOM)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan
