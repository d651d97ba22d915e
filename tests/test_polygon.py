"""polygon_metrics: integer-exact ring metrics (area/winding/centroid/
perimeter) against hand-computed values and a NumPy reimplementation."""

import math

import numpy as np
import pytest

from osmspark.spatial.polygon import polygon_metrics


def _run(spark, rings, quantum):
    df = spark.createDataFrame(
        [(i, [p[0] for p in r], [p[1] for p in r])
         for i, r in enumerate(rings)],
        "way_id long, lats array<double>, lons array<double>")
    rows = polygon_metrics(df, quantum=quantum).orderBy("way_id").collect()
    return rows


def test_unit_square_ccw(spark):
    # (lon, lat) walk: (0,0) -> (1,0) -> (1,1) -> (0,1): ccw, area 1
    ring = [(0.0, 0.0), (0.0, 1.0), (1.0, 1.0), (1.0, 0.0)]  # (lat, lon)
    (r,) = _run(spark, [ring], quantum=1e4)
    assert r.n_pts == 4 and not r.is_closed
    assert r.winding == 1
    assert r.area_deg2 == pytest.approx(1.0, abs=0)
    assert r.centroid_lat == pytest.approx(0.5, abs=0)
    assert r.centroid_lon == pytest.approx(0.5, abs=0)
    assert r.perim_deg == pytest.approx(4.0, abs=0)


def test_cw_square_and_explicit_closure(spark):
    ccw = [(0.0, 0.0), (0.0, 1.0), (1.0, 1.0), (1.0, 0.0)]
    cw = list(reversed(ccw))
    closed = ccw + [ccw[0]]
    a, b, c = _run(spark, [ccw, cw, closed], quantum=1e4)
    assert b.winding == -1 and b.area_deg2 == -a.area_deg2
    # explicit closure: identical metrics, is_closed flips
    assert not a.is_closed and c.is_closed
    assert (c.area_deg2, c.centroid_lat, c.centroid_lon, c.perim_deg) == \
        (a.area_deg2, a.centroid_lat, a.centroid_lon, a.perim_deg)


def test_degenerate_rings(spark):
    rings = [[], [(5.0, 5.0)], [(0.0, 0.0), (1.0, 1.0), (2.0, 2.0)]]
    z, p, col = _run(spark, rings, quantum=1e4)
    for r in (z, p, col):
        assert r.winding == 0 and r.area_deg2 == 0.0
        assert r.centroid_lat is None and r.centroid_lon is None
    assert z.n_pts == 0 and not z.is_closed
    assert p.perim_deg == 0.0
    # collinear walk still has (wrapped) perimeter
    assert col.perim_deg == pytest.approx(4 * math.sqrt(2), rel=1e-4)


def test_l_shape_area_centroid(spark):
    # L: 2x2 square minus 1x1 top-right notch -> area 3
    # (lon, lat): (0,0)(2,0)(2,1)(1,1)(1,2)(0,2)
    ring = [(0.0, 0.0), (0.0, 2.0), (1.0, 2.0), (1.0, 1.0),
            (2.0, 1.0), (2.0, 0.0)]  # (lat, lon)
    (r,) = _run(spark, [ring], quantum=1e4)
    assert r.area_deg2 == pytest.approx(3.0, abs=0)
    # centroid of L = (4*(1,0.5) + ... ) decompose: 2x1 bottom (c=(1,0.5))
    # + 1x1 top-left (c=(0.5,1.5)): ((2*1 + 1*0.5)/3, (2*0.5 + 1*1.5)/3)
    assert r.centroid_lon == pytest.approx(2.5 / 3, rel=1e-9)
    assert r.centroid_lat == pytest.approx(2.5 / 3, rel=1e-9)
    assert r.winding == 1


def _np_metrics(lats, lons, q):
    x = np.rint(np.asarray(lons) * q).astype(np.int64)
    y = np.rint(np.asarray(lats) * q).astype(np.int64)
    if len(x) == 0:
        return 0, 0, None, None, 0
    x0, y0 = x[0], y[0]
    xs, ys = x - x0, y - y0
    xj, yj = np.roll(xs, -1), np.roll(ys, -1)
    cross = xs * yj - xj * ys
    a2 = int(cross.sum())
    plen = int(np.rint(np.sqrt((xj - xs) ** 2.0 + (yj - ys) ** 2.0)).sum())
    if a2 == 0:
        return a2, plen, None, None, 0
    cx = (float(x0) + float((xs + xj) @ cross) / float(3 * a2)) / q
    cy = (float(y0) + float((ys + yj) @ cross) / float(3 * a2)) / q
    return a2, plen, cy, cx, (1 if a2 > 0 else -1)


def test_numpy_parity_random_rings(spark):
    rng = np.random.default_rng(42)
    rings, expect = [], []
    q = 1e4
    for _ in range(25):
        n = int(rng.integers(3, 12))
        lats = np.round(rng.uniform(-5, 5, n), 2)
        lons = np.round(rng.uniform(-5, 5, n), 2)
        rings.append(list(zip(lats.tolist(), lons.tolist())))
        expect.append(_np_metrics(lats, lons, q))
    rows = _run(spark, rings, quantum=q)
    for r, (a2, plen, cy, cx, w) in zip(rows, expect):
        assert r.winding == w
        assert r.area_deg2 == a2 / (2 * q * q)
        assert r.perim_deg == plen / q
        if cy is None:
            assert r.centroid_lat is None
        else:
            assert r.centroid_lat == cy and r.centroid_lon == cx


def test_no_shuffle_in_plan(spark):
    """The whole computation is per-row array expressions: the physical
    plan over a parquet scan must contain NO Exchange."""
    import os
    import tempfile
    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "g")
        spark.createDataFrame(
            [(1, [0.0, 0.0, 1.0], [0.0, 1.0, 1.0])],
            "way_id long, lats array<double>, lons array<double>"
        ).write.parquet(p)
        plan = polygon_metrics(spark.read.parquet(p), quantum=1e4) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
