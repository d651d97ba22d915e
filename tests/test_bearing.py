"""with_bearing: NumPy formula oracle, cardinal-direction sanity,
turn normalization to (−180, 180], first-point NULLs, row preservation."""

from __future__ import annotations

import math

import pandas as pd
import pytest

from osmspark.spatial.traj import with_bearing


def _bearing(lat1, lon1, lat2, lon2):
    p1, p2 = math.radians(lat1), math.radians(lat2)
    dl = math.radians(lon2) - math.radians(lon1)
    th = math.atan2(math.sin(dl) * math.cos(p2),
                    math.cos(p1) * math.sin(p2)
                    - math.sin(p1) * math.cos(p2) * math.cos(dl))
    return round((math.degrees(th) + 360.0) % 360.0, 9)


TRIP = [  # (ts, lat, lon)
    (0, 0.0, 0.0), (1, 0.0, 1.0),      # due east at equator: 90
    (2, 1.0, 1.0),                     # due north: 0 (turn -90)
    (3, 0.0, 1.0),                     # due south: 180 (turn +180)
    (4, 0.0, 0.0),                     # due west: 270 (turn +90)
    (5, 1.0, -1.0),                    # northwest-ish
]


@pytest.fixture(scope="module")
def out(spark):
    pdf = pd.DataFrame([{"trip_id": 1, "ts_us": t, "id": t,
                         "lat": la, "lon": lo} for t, la, lo in TRIP])
    return (with_bearing(spark.createDataFrame(pdf))
            .orderBy("ts_us").toPandas())


def test_matches_formula_and_cardinals(out):
    exp = [None] + [_bearing(TRIP[i - 1][1], TRIP[i - 1][2],
                             TRIP[i][1], TRIP[i][2])
                    for i in range(1, len(TRIP))]
    got = [None if pd.isna(b) else b for b in out.bearing_deg]
    assert got == exp
    assert got[1] == 90.0 and got[2] == 0.0
    assert got[3] == 180.0 and got[4] == 270.0


def test_turn_normalized(out):
    turns = [None if pd.isna(t) else t for t in out.turn_deg]
    assert turns[0] is None and turns[1] is None  # no previous segment
    assert turns[2] == -90.0
    assert turns[3] == 180.0                      # +180, never -180
    assert turns[4] == 90.0
    assert all(t is None or -180.0 < t <= 180.0 for t in turns)


def test_rows_preserved_and_multi_trip(spark):
    pdf = pd.DataFrame([{"trip_id": t, "ts_us": i, "id": i * 10 + t,
                         "lat": float(i), "lon": float(t)}
                        for t in (1, 2) for i in range(4)])
    got = with_bearing(spark.createDataFrame(pdf)).toPandas()
    assert len(got) == len(pdf)
    # each trip's first point: NULL bearing; all later: due north = 0
    for t in (1, 2):
        g = got[got.trip_id == t].sort_values("ts_us")
        assert pd.isna(g.bearing_deg.iloc[0])
        assert list(g.bearing_deg.iloc[1:]) == [0.0, 0.0, 0.0]


def test_single_exchange_plan(spark):
    pdf = pd.DataFrame([{"trip_id": 1, "ts_us": i, "id": i,
                         "lat": float(i), "lon": 0.0} for i in range(4)])
    plan = with_bearing(spark.createDataFrame(pdf)) \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1       # the trip window only
    assert "CartesianProduct" not in plan
