"""nearest_segment_join: hand cases, tie-break, NumPy brute-force
parity, and the no-cartesian plan pin."""

import numpy as np

from osmspark.spatial.mapmatch import explode_segments, nearest_segment_join


def _pts(spark, rows):
    return spark.createDataFrame(rows, "id long, lat double, lon double")


def _segs(spark, rows):
    return spark.createDataFrame(
        rows, "way_id long, pos int, ax double, ay double, "
              "bx double, by double")


def test_explode_segments(spark):
    g = spark.createDataFrame(
        [(1, [0.0, 1.0, 2.0], [10.0, 11.0, 12.0]),
         (2, [5.0], [5.0]), (3, [], [])],
        "way_id long, lats array<double>, lons array<double>")
    rows = explode_segments(g).orderBy("way_id", "pos").collect()
    assert [(r.way_id, r.pos, r.ax, r.ay, r.bx, r.by) for r in rows] == [
        (1, 0, 10.0, 0.0, 11.0, 1.0), (1, 1, 11.0, 1.0, 12.0, 2.0)]


def test_basic_snap_clamp_and_unmatched(spark):
    segs = _segs(spark, [(7, 0, 0.0, 0.0, 10.0, 0.0)])
    pts = _pts(spark, [(1, 3.0, 5.0),    # interior: dist2 9
                       (2, 0.0, 12.0),   # beyond b: clamp t=1, dist2 4
                       (3, 0.5, 5.0),    # dist2 0.25
                       (4, 50.0, 50.0)])  # out of radius
    out = {r.id: r for r in
           nearest_segment_join(pts, segs, 4.0).collect()}
    assert (out[1].way_id, out[1].seg_pos, out[1].dist2) == (7, 0, 9.0)
    assert (out[2].way_id, out[2].dist2) == (7, 4.0)
    assert out[3].dist2 == 0.25
    assert (out[4].way_id, out[4].seg_pos, out[4].dist2) == (-1, -1, -1.0)


def test_degenerate_segment_point_distance(spark):
    segs = _segs(spark, [(1, 0, 2.0, 2.0, 2.0, 2.0)])
    pts = _pts(spark, [(1, 2.0, 3.0)])
    (r,) = nearest_segment_join(pts, segs, 2.0).collect()
    assert (r.way_id, r.dist2) == (1, 1.0)


def test_tie_breaks_to_lowest_pos(spark):
    # collinear adjacent segments share vertex (5,0); the point projects
    # exactly onto it -> identical dist2 -> lowest (way_id, pos) wins
    segs = _segs(spark, [(1, 1, 5.0, 0.0, 10.0, 0.0),
                         (1, 0, 0.0, 0.0, 5.0, 0.0)])
    pts = _pts(spark, [(1, 2.0, 5.0)])
    (r,) = nearest_segment_join(pts, segs, 3.0).collect()
    assert (r.way_id, r.seg_pos, r.dist2) == (1, 0, 4.0)


def _np_seg_dist2(px, py, ax, ay, bx, by):
    dx, dy = bx - ax, by - ay
    len2 = dx * dx + dy * dy
    if len2 == 0.0:
        return (px - ax) ** 2 + (py - ay) ** 2
    t = min(max(((px - ax) * dx + (py - ay) * dy) / len2, 0.0), 1.0)
    return (px - (ax + t * dx)) ** 2 + (py - (ay + t * dy)) ** 2


def test_bruteforce_parity_random(spark):
    rng = np.random.default_rng(7)
    radius = 1.5
    seg_rows = []
    for w in range(30):
        ax, ay = rng.uniform(-8, 8, 2)
        bx, by = ax + rng.uniform(-1, 1), ay + rng.uniform(-1, 1)
        seg_rows.append((w, 0, float(round(ax, 3)), float(round(ay, 3)),
                         float(round(bx, 3)), float(round(by, 3))))
    pt_rows = [(i, float(round(rng.uniform(-9, 9), 3)),
                float(round(rng.uniform(-9, 9), 3)))
               for i in range(60)]
    out = {r.id: r for r in nearest_segment_join(
        _pts(spark, pt_rows), _segs(spark, seg_rows), radius).collect()}
    for i, lat, lon in pt_rows:
        cands = [(
            _np_seg_dist2(lon, lat, ax, ay, bx, by), w, p)
            for (w, p, ax, ay, bx, by) in seg_rows]
        d, w, p = min(cands)
        r = out[i]
        if d <= radius * radius:
            assert (r.way_id, r.seg_pos, r.dist2) == (w, p, d)
        else:
            assert (r.way_id, r.seg_pos, r.dist2) == (-1, -1, -1.0)


def test_plan_has_no_cartesian(spark):
    segs = _segs(spark, [(1, 0, 0.0, 0.0, 1.0, 1.0)])
    pts = _pts(spark, [(1, 0.5, 0.5)])
    plan = nearest_segment_join(pts, segs, 2.0) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
