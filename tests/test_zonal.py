"""Zonal statistics — osmspark/spatial/zonal.py.

Pins: counts vs a pandas recomputation through the same two pinned
primitives, never-drop for point-free and polyfill-empty zones,
tile-granular boundary semantics (a point counts toward every zone whose
polyfill holds its tile), and the broadcast join shape.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from osmspark.spatial.zonal import zonal_stats


@pytest.fixture(scope="module")
def data(spark):
    rng = np.random.default_rng(17)
    n = 3000
    pts = pd.DataFrame({
        "id": np.arange(n),
        "lat": rng.uniform(0, 40, n),
        "lon": rng.uniform(0, 40, n)})
    polys = [
        (1, [5.0, 5.0, 20.0, 20.0], [5.0, 20.0, 20.0, 5.0]),     # big rect
        (2, [10.0, 10.0, 30.0, 30.0], [10.0, 30.0, 30.0, 10.0]),  # overlaps 1
        (3, [-60.0, -60.0, -50.0, -50.0], [-60.0, -50.0, -50.0, -60.0]),
        # zone 3: far away → zero points
        (4, [0.001, 0.001, 0.002, 0.002], [0.001, 0.002, 0.002, 0.001]),
        # zone 4: sliver smaller than a z5 tile → polyfill may be empty
    ]
    pdf_polys = spark.createDataFrame(
        polys, "poly_id long, ring_lat array<double>, ring_lon array<double>")
    return pts, spark.createDataFrame(pts), pdf_polys


def test_matches_component_recomputation(data):
    pts, pts_df, polys_df = data
    zoom = 5
    got = {r.poly_id: r for r in
           zonal_stats(pts_df, polys_df, zoom).collect()}
    assert set(got) == {1, 2, 3, 4}

    # recompute through the SAME primitives (both independently pinned
    # by their own oracle queries) in pandas
    from osmspark.spatial.polyfill import polyfill_raster
    from osmspark.spatial.tiles import raster_tile_counts
    raster = raster_tile_counts(pts_df, zoom).toPandas()
    cells = polyfill_raster(polys_df, zoom).toPandas()
    rmap = {(r.tile_x, r.tile_y): r.n_points for _, r in raster.iterrows()}
    for pid in (1, 2, 3, 4):
        zone = cells[cells.poly_id == pid]
        keys = list(zip(zone.tile_x, zone.tile_y))
        counts = [rmap.get(k, 0) for k in keys]
        hit = [c for c in counts if c > 0]
        r = got[pid]
        assert r.n_tiles == len(keys)
        assert r.n_covered == len(hit)
        assert r.n_points == sum(hit)
        assert r.max_tile_points == (max(hit) if hit else 0)


def test_overlap_double_counts_by_design(data):
    _, pts_df, polys_df = data
    got = {r.poly_id: r for r in zonal_stats(pts_df, polys_df, 5).collect()}
    # zones 1 and 2 overlap: their sums together exceed the union count
    union_pts = got[1].n_points + got[2].n_points
    assert union_pts > 0
    assert got[3].n_points == 0 and got[3].n_covered == 0


def test_plan_broadcasts_zone_mask(data):
    _, pts_df, polys_df = data
    plan = zonal_stats(pts_df, polys_df, 5) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
