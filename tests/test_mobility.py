"""Per-user mobility metrics — osmspark/spatial/mobility.py.

Pins each statistic against a NumPy float reference on irregular
point sets, the exact-integer edge cases (single fix, constant
location), and the deterministic endpoint tie-break in
flows.od_matrix, which od_gravity builds on.
"""

import math

import numpy as np

from osmspark.spatial.flows import od_matrix
from osmspark.spatial.mobility import location_diversity, radius_of_gyration

SCHEMA = "trip_id long, ts_us long, id long, lat double, lon double"


def _rg_np(pts):
    a = np.array([(round(p[3] * 1e6), round(p[4] * 1e6)) for p in pts],
                 dtype=float)
    c = a.mean(axis=0)
    return math.sqrt(((a - c) ** 2).sum(axis=1).mean()) / 1e6


def test_rg_matches_numpy(spark):
    pts = [(1, t, t, 10.0 + 0.3 * (t % 5), 20.0 - 0.2 * (t % 7))
           for t in range(40)]
    got = radius_of_gyration(
        spark.createDataFrame(pts, SCHEMA)).collect()[0]
    assert got["n_points"] == 40
    assert abs(got["rg_deg"] - _rg_np(pts)) < 1e-9


def test_rg_single_and_constant_location(spark):
    pts = [(1, 0, 0, 5.5, -3.25)] + \
          [(2, t, t, 7.125, 7.125) for t in range(9)]
    rows = {r["user"]: r for r in radius_of_gyration(
        spark.createDataFrame(pts, SCHEMA)).collect()}
    assert rows[1]["rg_deg"] == 0.0
    assert rows[2]["rg_deg"] == 0.0


def test_rg_negative_coords_exact(spark):
    # 2 points symmetric about origin: rg = distance/2 exactly
    pts = [(1, 0, 0, -1.0, -2.0), (1, 1, 1, 1.0, 2.0)]
    got = radius_of_gyration(
        spark.createDataFrame(pts, SCHEMA)).collect()[0]
    assert abs(got["rg_deg"] - math.sqrt(5.0)) < 1e-9


def test_od_matrix_endpoints_and_ties(spark):
    pts = [
        # trip 1: clear first/last
        (1, 100, 1, 0.1, 0.1), (1, 200, 2, 0.2, 0.2),
        (1, 300, 3, 3.7, 3.7),
        # trip 2: duplicate timestamps — tie broken by id (4 first,
        # 6 last)
        (2, 500, 6, 8.1, 8.1), (2, 500, 4, 0.3, 0.3),
        (2, 500, 5, 4.4, 4.4),
        # trip 3: same O and D cell as trip 1
        (3, 10, 7, 0.4, 0.4), (3, 20, 8, 3.9, 3.9),
    ]
    got = {(r["o_cell_x"], r["o_cell_y"], r["d_cell_x"], r["d_cell_y"]):
           r["n_trips"] for r in od_matrix(
               spark.createDataFrame(pts, SCHEMA)).collect()}
    assert got[(0, 0, 7, 7)] == 2          # trips 1 and 3
    assert got[(0, 0, 16, 16)] == 1        # trip 2: id 4 -> id 6
    assert sum(got.values()) == 3


def test_od_matrix_single_point_trip_self_flow(spark):
    pts = [(9, 0, 0, 1.0, 1.0)]
    got = od_matrix(spark.createDataFrame(pts, SCHEMA)).collect()
    assert len(got) == 1
    r = got[0]
    assert ((r["o_cell_x"], r["o_cell_y"])
            == (r["d_cell_x"], r["d_cell_y"]) == (2, 2))


def test_location_diversity_matches_reference(spark):
    # user 1: cells with counts 3, 1 -> simpson = 1 - 10/16
    pts = [(1, t, t, 0.1, 0.1) for t in range(3)] + \
          [(1, 9, 9, 5.1, 5.1)]
    r = location_diversity(
        spark.createDataFrame(pts, SCHEMA)).collect()[0]
    assert r["n_points"] == 4 and r["n_cells"] == 2
    assert abs(r["simpson_div"] - (1 - 10 / 16)) < 1e-12
    assert abs(r["top_share"] - 0.75) < 1e-12


def test_location_diversity_single_cell_zero(spark):
    pts = [(1, t, t, 0.1 + 0.01 * t, 0.1) for t in range(5)]
    r = location_diversity(
        spark.createDataFrame(pts, SCHEMA)).collect()[0]
    assert r["simpson_div"] == 0.0 and r["top_share"] == 1.0
    assert r["n_cells"] == 1


def test_partitioning_invariance(spark):
    pts = [(u, t, u * 100 + t, 10.0 + 0.3 * ((u * t) % 5),
            -20.0 + 0.2 * ((u + t) % 9))
           for u in range(4) for t in range(25)]
    df1 = spark.createDataFrame(pts, SCHEMA).repartition(1)
    df13 = spark.createDataFrame(pts, SCHEMA).repartition(13)
    for fn in (radius_of_gyration, location_diversity):
        a = sorted(map(tuple, fn(df1).collect()))
        b = sorted(map(tuple, fn(df13).collect()))
        assert a == b, fn.__name__


# ---------------------------------------------------------------------------
# cell_transitions
# ---------------------------------------------------------------------------

from osmspark.spatial.mobility import (cell_transitions, home_location,
                                       jump_lengths)


def test_transitions_counts_and_probs(spark):
    # user 1 walk: A A B A  (cells at 0.5 deg: A=(0,0) lat/lon ~0.1,
    # B=(2,2) ~1.1) -> transitions A->A, A->B, B->A
    pts = [(1, 0, 0, 0.1, 0.1), (1, 1, 1, 0.2, 0.2),
           (1, 2, 2, 1.1, 1.1), (1, 3, 3, 0.1, 0.1)]
    rows = {((r["o_cx"], r["o_cy"]), (r["d_cx"], r["d_cy"])): r
            for r in cell_transitions(
                spark.createDataFrame(pts, SCHEMA)).collect()}
    a, b = (0, 0), (2, 2)
    assert rows[(a, a)]["n_trans"] == 1 and rows[(a, a)]["n_out"] == 2
    assert rows[(a, b)]["n_trans"] == 1
    assert rows[(a, b)]["prob"] == 0.5
    assert rows[(b, a)]["prob"] == 1.0


def test_transitions_probs_sum_to_one_per_origin(spark):
    pts = [(u, t, u * 1000 + t,
            0.1 * ((u * 7 + t * 3) % 11), 0.1 * ((u * 5 + t) % 13))
           for u in range(6) for t in range(30)]
    df = cell_transitions(spark.createDataFrame(pts, SCHEMA))
    sums = (df.groupBy("o_cx", "o_cy")
            .agg({"prob": "sum", "n_trans": "sum", "n_out": "max"})
            .collect())
    for r in sums:
        assert abs(r["sum(prob)"] - 1.0) < 1e-6
        assert r["sum(n_trans)"] == r["max(n_out)"]


def test_transitions_tiebreak_on_id(spark):
    # identical timestamps: order by point id decides the chain
    pts = [(1, 5, 10, 0.1, 0.1), (1, 5, 11, 1.1, 1.1),
           (1, 5, 12, 2.6, 2.6)]
    rows = {((r["o_cx"], r["o_cy"]), (r["d_cx"], r["d_cy"]))
            for r in cell_transitions(
                spark.createDataFrame(pts, SCHEMA)).collect()}
    assert rows == {((0, 0), (2, 2)), ((2, 2), (5, 5))}


def test_transitions_partitioning_invariance(spark):
    pts = [(u, t * 7, u * 100 + t, 0.3 * ((t * u) % 9),
            -0.3 * ((t + u) % 8)) for u in range(4) for t in range(25)]
    a = sorted(map(tuple, cell_transitions(
        spark.createDataFrame(pts, SCHEMA).repartition(1)).collect()))
    b = sorted(map(tuple, cell_transitions(
        spark.createDataFrame(pts, SCHEMA).repartition(13)).collect()))
    assert a == b


# ---------------------------------------------------------------------------
# home_location
# ---------------------------------------------------------------------------

US_HOUR = 3_600_000_000


def test_home_modal_night_cell(spark):
    # user 1: 3 night fixes in cell (0,0), 2 night in (2,2), day fixes
    # in (4,4) must not count (hour 12)
    pts = ([(1, (23 * US_HOUR) + i, i, 0.1, 0.1) for i in range(3)]
           + [(1, (2 * US_HOUR) + i, 10 + i, 1.1, 1.1) for i in range(2)]
           + [(1, (12 * US_HOUR) + i, 20 + i, 2.1, 2.1) for i in range(5)])
    got = home_location(spark.createDataFrame(pts, SCHEMA)).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["home_cx"], r["home_cy"]) == (0, 0)
    assert r["n_night"] == 5 and r["n_home"] == 3


def test_home_tie_breaks_southwest(spark):
    # two cells tie on count -> lexicographically smallest (cx, cy)
    pts = [(1, 1 * US_HOUR, 0, 3.1, 3.1), (1, 2 * US_HOUR, 1, 3.2, 3.2),
           (1, 3 * US_HOUR, 2, 0.1, 0.1), (1, 4 * US_HOUR, 3, 0.2, 0.2)]
    r = home_location(spark.createDataFrame(pts, SCHEMA)).collect()[0]
    assert (r["home_cx"], r["home_cy"]) == (0, 0)


def test_home_no_night_fixes_no_row(spark):
    pts = [(1, 12 * US_HOUR, 0, 0.1, 0.1)]
    assert home_location(spark.createDataFrame(pts, SCHEMA)).count() == 0


def test_home_non_wrapping_window(spark):
    # night_start < night_end -> plain interval [9, 17)
    pts = [(1, 10 * US_HOUR, 0, 0.1, 0.1),
           (1, 20 * US_HOUR, 1, 5.1, 5.1)]
    r = home_location(spark.createDataFrame(pts, SCHEMA),
                      night_start_h=9, night_end_h=17).collect()[0]
    assert (r["home_cx"], r["home_cy"]) == (0, 0) and r["n_night"] == 1


# ---------------------------------------------------------------------------
# jump_lengths
# ---------------------------------------------------------------------------


def test_jump_lengths_buckets(spark):
    # 1 deg lat ~ 111.2 km; with km buckets that lands in bucket 111
    pts = [(1, 0, 0, 0.0, 0.0), (1, 1, 1, 1.0, 0.0), (1, 2, 2, 1.0, 0.0)]
    rows = {r["bucket"]: r for r in jump_lengths(
        spark.createDataFrame(pts, SCHEMA),
        bucket_mm=1_000_000).collect()}
    assert rows[0]["n_jumps"] == 1          # zero-length jump
    big = [b for b in rows if b > 0]
    assert len(big) == 1 and 110 <= big[0] <= 112
    assert rows[big[0]]["lo_mm"] == big[0] * 1_000_000


def test_jump_lengths_first_fix_excluded(spark):
    pts = [(u, t, u * 10 + t, 0.01 * t, 0.0)
           for u in range(3) for t in range(5)]
    total = (jump_lengths(spark.createDataFrame(pts, SCHEMA))
             .agg({"n_jumps": "sum"}).collect()[0][0])
    assert total == 3 * 4  # n-1 jumps per user


# ---------------------------------------------------------------------------
# k_anonymous_cells / od_gravity
# ---------------------------------------------------------------------------

from osmspark.spatial.mobility import k_anonymous_cells, od_gravity


def test_k_anon_counts_and_flag(spark):
    # cell (0,0): users 1,2,3; cell (2,2): user 1 only
    pts = [(u, t, u * 10 + t, 0.1, 0.1)
           for u in (1, 2, 3) for t in range(2)] + \
          [(1, 9, 99, 1.1, 1.1)]
    rows = {(r["cell_x"], r["cell_y"]): r for r in k_anonymous_cells(
        spark.createDataFrame(pts, SCHEMA), k=2).collect()}
    a, b = rows[(0, 0)], rows[(2, 2)]
    assert a["n_users"] == 3 and a["n_fixes"] == 6 and a["released"]
    assert b["n_users"] == 1 and b["n_fixes"] == 1 and not b["released"]


def test_k_anon_threshold_boundary(spark):
    pts = [(u, 0, u, 0.1, 0.1) for u in (1, 2)]
    r = k_anonymous_cells(
        spark.createDataFrame(pts, SCHEMA), k=2).collect()[0]
    assert r["released"]  # n_users == k is released (>=)


def test_gravity_identity_single_origin(spark):
    # all trips share one origin: expected == observed on every link
    pts = []
    for u in range(6):
        pts.append((u, 0, u * 10, 0.1, 0.1))            # origin (0,0)
        pts.append((u, 1, u * 10 + 1, 0.1 + (u % 2), 0.1 + (u % 2)))
    rows = od_gravity(spark.createDataFrame(pts, SCHEMA)).collect()
    for r in rows:
        assert abs(r["residual"]) < 1e-9
        assert abs(r["expected"] - r["n_trips"]) < 1e-9


def test_gravity_marginals_and_residual(spark):
    # flows: A->X 2 trips, A->Y 1, B->X 1  (A=(0,0), B=(2,2), ...)
    def trip(u, o_lat, o_lon, d_lat, d_lon):
        return [(u, 0, u * 10, o_lat, o_lon), (u, 1, u * 10 + 1, d_lat, d_lon)]
    pts = (trip(1, 0.1, 0.1, 5.1, 5.1) + trip(2, 0.1, 0.1, 5.1, 5.1)
           + trip(3, 0.1, 0.1, 7.1, 7.1) + trip(4, 1.1, 1.1, 5.1, 5.1))
    rows = {((r["o_cx"], r["o_cy"]), (r["d_cx"], r["d_cy"])): r
            for r in od_gravity(
                spark.createDataFrame(pts, SCHEMA)).collect()}
    ax = rows[((0, 0), (10, 10))]
    assert ax["n_trips"] == 2 and ax["o_out"] == 3 and ax["d_in"] == 3
    assert abs(ax["expected"] - 3 * 3 / 4) < 1e-9
    assert abs(ax["residual"] - (2 - 2.25)) < 1e-9
