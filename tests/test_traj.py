"""Trajectory cleaning + resampling — osmspark/spatial/traj.py.

Pins: the exact integer speed compare (boundary speed is plausible,
one µs less is not), zero-dt handling, first-point rule, half-open
tick emission (on-grid points emit once), exact-lerp endpoints, and
empty-segment guards.
"""

from osmspark.spatial.traj import resample_trips, speed_filter


def test_speed_filter_boundary_exact(spark):
    # 1 mm/s limit: a 1000 mm hop in 1.0 s is exactly plausible;
    # the same hop in 0.999999 s is not. Construct via equator lon
    # offsets: 1000 mm ≈ 8.9933e-6 degrees — use seg_mm output itself
    # to derive the boundary instead of trusting the approximation.
    d = 1.0e-5  # ~1113 mm at the equator
    rows = [(1, 0, 1, 0.0, 0.0), (1, 1_000_000, 2, 0.0, d)]
    df = spark.createDataFrame(
        rows, "trip_id long, ts_us long, id long, lat double, lon double")
    out = {r["id"]: r for r in speed_filter(df, 10 ** 9).collect()}
    seg = out[2]["seg_mm"]           # measured mm for this hop
    assert out[1]["plausible"]       # first point always
    assert out[1]["seg_mm"] == 0 and out[1]["dt_us"] == 0

    # exactly seg mm/s: seg*1e6 <= seg*1e6 → plausible
    got = {r["id"]: r for r in speed_filter(df, seg).collect()}
    assert got[2]["plausible"]
    # one mm/s less: strict violation
    got = {r["id"]: r for r in speed_filter(df, seg - 1).collect()}
    assert not got[2]["plausible"]


def test_speed_filter_zero_dt_moving_is_implausible(spark):
    rows = [(1, 5, 1, 0.0, 0.0), (1, 5, 2, 0.0, 1.0),   # same ts, moved
            (1, 5, 3, 0.0, 1.0)]                        # same ts, no move
    df = spark.createDataFrame(
        rows, "trip_id long, ts_us long, id long, lat double, lon double")
    out = {r["id"]: r for r in speed_filter(df, 10 ** 9).collect()}
    assert not out[2]["plausible"]   # seg > 0, dt = 0
    assert out[3]["plausible"]       # 0 <= 0


def test_resample_half_open_and_exact_endpoints(spark):
    # step 10: points at t=0, 20, 25 → segment [0,20) emits ticks 0,10;
    # [20,25) emits tick 20 (the on-grid t=20 point emits ONCE).
    rows = [(1, 0, 1, 0.0, 0.0), (1, 20, 2, 2.0, 4.0),
            (1, 25, 3, 3.0, 5.0)]
    df = spark.createDataFrame(
        rows, "trip_id long, ts_us long, id long, lat double, lon double")
    out = sorted(resample_trips(df, 10).collect(), key=lambda r: r["tick"])
    assert [r["tick"] for r in out] == [0, 1, 2]
    assert [r["t_us"] for r in out] == [0, 10, 20]
    assert (out[0]["lat"], out[0]["lon"]) == (0.0, 0.0)   # exact at t1
    assert (out[1]["lat"], out[1]["lon"]) == (1.0, 2.0)   # midpoint
    assert (out[2]["lat"], out[2]["lon"]) == (2.0, 4.0)   # on-grid point


def test_resample_short_segment_emits_nothing(spark):
    # both points inside one step window with no tick in between
    rows = [(1, 11, 1, 0.0, 0.0), (1, 19, 2, 1.0, 1.0)]
    df = spark.createDataFrame(
        rows, "trip_id long, ts_us long, id long, lat double, lon double")
    assert resample_trips(df, 10).collect() == []
