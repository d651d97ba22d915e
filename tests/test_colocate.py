"""colocate_join: spatiotemporal completeness/exactness vs brute force,
boundary inclusivity on BOTH axes, time-bucket boundary safety at epoch
magnitudes, and no-cross-join plan shape."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from osmspark.spatial.dwithin import colocate_join

EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in micros
HOUR_US = 3_600_000_000


@pytest.fixture(scope="module")
def pts(spark):
    rng = np.random.default_rng(23)
    n = 400
    pdf = pd.DataFrame({
        "id": np.arange(n),
        "lat": rng.uniform(-3, 3, n),
        "lon": rng.uniform(-3, 3, n),
        "ts_us": EPOCH_2024_US + rng.integers(0, 30 * 24 * HOUR_US, n)})
    return pdf, spark.createDataFrame(pdf)


def _brute(pdf: pd.DataFrame, r: float, w: int, half: bool) -> set:
    la = pdf["lat"].to_numpy()
    lo = pdf["lon"].to_numpy()
    ts = pdf["ts_us"].to_numpy()
    d2 = (la[:, None] - la[None, :]) ** 2 + (lo[:, None] - lo[None, :]) ** 2
    dt = np.abs(ts[:, None] - ts[None, :])
    m = (d2 <= r * r) & (dt <= w)
    ai, bi = np.nonzero(m)
    ids = pdf["id"].to_numpy()
    pairs = set(zip(ids[ai].tolist(), ids[bi].tolist()))
    if half:
        pairs = {(a, b) for a, b in pairs if a < b}
    return pairs


def test_self_join_matches_bruteforce(pts):
    pdf, df = pts
    r, w = 0.5, 12 * HOUR_US
    got = colocate_join(df, df, r, w, keep_self=False).toPandas()
    exp = _brute(pdf, r, w, half=True)
    assert set(zip(got["a_id"], got["b_id"])) == exp
    assert len(got) == len(exp)  # exactly once per pair


def test_refine_values_exact(pts):
    pdf, df = pts
    r, w = 0.8, 24 * HOUR_US
    got = colocate_join(df, df, r, w, keep_self=False).toPandas()
    by_id = pdf.set_index("id")
    for _, row in got.head(200).iterrows():
        a, b = by_id.loc[row["a_id"]], by_id.loc[row["b_id"]]
        assert row["dist2"] == (a["lat"] - b["lat"]) ** 2 \
            + (a["lon"] - b["lon"]) ** 2
        assert row["dt_us"] == b["ts_us"] - a["ts_us"]


def test_boundaries_inclusive_both_axes(spark):
    w = HOUR_US
    rows = [
        (1, 0.0, 0.0, EPOCH_2024_US),
        (2, 0.0, 1.0, EPOCH_2024_US + w),        # dist == r, dt == w: in
        (3, 0.0, 1.0, EPOCH_2024_US + w + 1),    # dt just over: out
        (4, 0.0, 1.0 + 1e-9, EPOCH_2024_US),     # dist just over: out
        # bucket-boundary straddle: ts exactly on a w multiple, partner
        # at the previous bucket's far edge (|dt| == w, 2 buckets apart
        # would MISS — pins the ±1 cover + integer DIV bucketing)
        (5, 2.0, 2.0, EPOCH_2024_US + 7 * w),
        (6, 2.0, 2.0, EPOCH_2024_US + 6 * w),
    ]
    df = spark.createDataFrame(
        rows, "id long, lat double, lon double, ts_us long")
    got = set(map(tuple, colocate_join(df, df, 1.0, w, keep_self=False)
                  .select("a_id", "b_id").collect()))
    assert (1, 2) in got
    assert (1, 3) not in got
    assert (1, 4) not in got
    assert (5, 6) in got


def test_plan_has_no_cartesian(pts):
    _, df = pts
    plan = colocate_join(df, df, 0.5, HOUR_US) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
