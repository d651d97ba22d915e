"""Convex hull edges — osmspark/spatial/hull.py.

Pins: the CCW edge characterization (all other points strictly left or
collinear-between) on random groups via an O(n³) brute-force oracle,
collinear-boundary exclusion, degenerate groups (single point, segment,
duplicates), and quantization parity with the layout round rule.
"""

from __future__ import annotations

import numpy as np

from osmspark.spatial.hull import convex_hull_edges


def _brute_edges(pts: np.ndarray) -> set:
    """Directed CCW hull edges by the closed-form characterization."""
    pts = np.unique(pts, axis=0)
    out = set()
    for a in pts:
        for b in pts:
            if (a == b).all():
                continue
            ok = True
            for p in pts:
                if (p == a).all() or (p == b).all():
                    continue
                cr = (b[0] - a[0]) * (p[1] - a[1]) \
                    - (b[1] - a[1]) * (p[0] - a[0])
                if cr > 0:
                    continue
                if cr == 0 \
                        and min(a[0], b[0]) <= p[0] <= max(a[0], b[0]) \
                        and min(a[1], b[1]) <= p[1] <= max(a[1], b[1]):
                    continue
                ok = False
                break
            if ok:
                out.add((int(a[0]), int(a[1]), int(b[0]), int(b[1])))
    return out


def _run(spark, groups: dict[int, np.ndarray]):
    rows = [(g, float(y) / 1e6, float(x) / 1e6)
            for g, pts in groups.items() for x, y in pts]
    df = spark.createDataFrame(rows, "group_id long, lat double, lon double")
    got = convex_hull_edges(df).toPandas()
    by_g = {}
    for _, r in got.iterrows():
        by_g.setdefault(r.group_id, set()).add(
            (r.ax_q, r.ay_q, r.bx_q, r.by_q))
    return by_g


def test_random_groups_match_bruteforce(spark):
    rng = np.random.default_rng(3)
    groups = {g: rng.integers(-500, 500, size=(rng.integers(3, 60), 2))
              for g in range(12)}
    got = _run(spark, groups)
    for g, pts in groups.items():
        assert got.get(g, set()) == _brute_edges(pts), f"group {g}"


def test_collinear_points_excluded(spark):
    # square with a midpoint on each edge: midpoints are NOT vertices
    sq = np.array([[0, 0], [10, 0], [10, 10], [0, 10],
                   [5, 0], [10, 5], [5, 10], [0, 5]])
    got = _run(spark, {1: sq})
    assert got[1] == {(0, 0, 10, 0), (10, 0, 10, 10),
                      (10, 10, 0, 10), (0, 10, 0, 0)}


def test_degenerate_groups(spark):
    groups = {
        1: np.array([[3, 4]]),                      # single point: no edges
        2: np.array([[3, 4], [3, 4], [3, 4]]),      # duplicates: no edges
        3: np.array([[0, 0], [5, 5], [10, 10]]),    # collinear: segment
    }
    got = _run(spark, groups)
    assert 1 not in got and 2 not in got
    assert got[3] == {(0, 0, 10, 10), (10, 10, 0, 0)}


def test_edges_form_ccw_cycle(spark):
    rng = np.random.default_rng(9)
    pts = rng.integers(-1000, 1000, size=(200, 2))
    got = _run(spark, {7: pts})[7]
    # each vertex appears exactly once as source and once as target
    srcs = [(a, b) for a, b, _, _ in got]
    dsts = [(c, d) for _, _, c, d in got]
    assert sorted(srcs) == sorted(dsts)
    assert len(set(srcs)) == len(srcs)
    # signed area of the cycle is positive (CCW)
    edges = {(a, b): (c, d) for a, b, c, d in got}
    start = next(iter(edges))
    cyc, cur = [start], edges[start]
    while cur != start:
        cyc.append(cur)
        cur = edges[cur]
    area2 = sum(x1 * y2 - x2 * y1
                for (x1, y1), (x2, y2) in zip(cyc, cyc[1:] + cyc[:1]))
    assert area2 > 0


# ---------------------------------------------------------------------------
# hull_metrics
# ---------------------------------------------------------------------------

import math

from osmspark.spatial.hull import hull_metrics

MSCHEMA = "group_id long, lat double, lon double"


def test_square_area_perimeter(spark):
    # unit square in degrees at scale 1e6: area2 = 2e12, perim = 4e6
    pts = [(1, 0.0, 0.0), (1, 0.0, 1.0), (1, 1.0, 0.0), (1, 1.0, 1.0),
           (1, 0.5, 0.5)]  # interior point must not matter
    r = hull_metrics(spark.createDataFrame(pts, MSCHEMA)).collect()[0]
    assert r["n_edges"] == 4
    assert r["area2_q"] == 2 * 10 ** 12
    assert r["perim_q"] == 4 * 10 ** 6
    assert r["area_deg2"] == 1.0


def test_triangle_shoelace(spark):
    # right triangle legs 1 x 2 deg -> area 1.0 deg^2
    pts = [(1, 0.0, 0.0), (1, 0.0, 1.0), (1, 2.0, 0.0)]
    r = hull_metrics(spark.createDataFrame(pts, MSCHEMA)).collect()[0]
    assert r["area_deg2"] == 1.0
    hyp = math.floor(math.sqrt((10 ** 6) ** 2 + (2 * 10 ** 6) ** 2))
    assert r["perim_q"] == 10 ** 6 + 2 * 10 ** 6 + hyp


def test_collinear_degenerate(spark):
    pts = [(1, 0.0, 0.0), (1, 1.0, 1.0), (1, 2.0, 2.0)]
    r = hull_metrics(spark.createDataFrame(pts, MSCHEMA)).collect()[0]
    assert r["area2_q"] == 0 and r["n_edges"] == 2
    assert r["perim_q"] == 2 * math.floor(math.sqrt(8) * 10 ** 6)


def test_single_point_no_row(spark):
    pts = [(1, 5.0, 5.0), (2, 0.0, 0.0), (2, 0.0, 1.0), (2, 1.0, 0.5)]
    rows = {r["group_id"] for r in hull_metrics(
        spark.createDataFrame(pts, MSCHEMA)).collect()}
    assert rows == {2}
