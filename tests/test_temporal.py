"""asof_join / sessionize: semantics vs pandas merge_asof, tie-breaks,
tolerance, and the one-shuffle scale claim (plan-pinned)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from osmspark.pipeline.temporal import asof_join, session_stats, sessionize


@pytest.fixture(scope="module")
def lr(spark):
    rng = np.random.default_rng(7)
    n_l, n_r = 400, 250
    left = pd.DataFrame({
        "uid": rng.integers(0, 15, n_l),
        "ts": pd.to_datetime(rng.integers(0, 10**6, n_l), unit="s"),
        "lid": np.arange(n_l)})
    right = pd.DataFrame({
        "uid": rng.integers(0, 15, n_r),
        "ts": pd.to_datetime(rng.integers(0, 10**6, n_r), unit="s"),
        "rid": np.arange(n_r),
        "payload": rng.normal(size=n_r)}).drop_duplicates(["uid", "ts"])
    return left, right, spark.createDataFrame(left), spark.createDataFrame(right)


def _rid_match(got: pd.DataFrame, exp: pd.DataFrame, col: str) -> bool:
    g = got.sort_values("lid")[col].to_numpy(dtype=float)
    e = exp.sort_values("lid")["rid"].to_numpy(dtype=float)
    return np.array_equal(np.nan_to_num(g, nan=-1), np.nan_to_num(e, nan=-1))


def test_asof_backward_matches_pandas(lr):
    left, right, ldf, rdf = lr
    got = asof_join(ldf, rdf, on="uid", right_cols=["rid", "payload"],
                    right_id="rid").toPandas()
    exp = pd.merge_asof(left.sort_values("ts"), right.sort_values("ts"),
                        on="ts", by="uid", direction="backward",
                        suffixes=("", "_r"))
    assert len(got) == len(left)
    assert _rid_match(got, exp, "r_rid")
    # payload rides along with the matched row
    j = got.sort_values("lid").merge(right, left_on="r_rid", right_on="rid",
                                     how="left")
    m = j["r_rid"].notna()
    assert np.allclose(j.loc[m, "r_payload"], j.loc[m, "payload"], atol=0)


def test_asof_forward_matches_pandas(lr):
    left, right, ldf, rdf = lr
    got = asof_join(ldf, rdf, on="uid", right_cols=["rid"],
                    right_id="rid", direction="forward").toPandas()
    exp = pd.merge_asof(left.sort_values("ts"), right.sort_values("ts"),
                        on="ts", by="uid", direction="forward",
                        suffixes=("", "_r"))
    assert _rid_match(got, exp, "r_rid")


def test_asof_equal_ts_inclusive_and_duplicate_tiebreak(spark):
    ts = pd.Timestamp("2024-01-01 00:10:00")
    left = spark.createDataFrame(pd.DataFrame(
        {"uid": [1], "ts": [ts], "lid": [0]}))
    right = spark.createDataFrame(pd.DataFrame(
        {"uid": [1, 1], "ts": [ts, ts], "rid": [5, 9]}))
    back = asof_join(left, right, on="uid", right_cols=["rid"],
                     right_id="rid").toPandas()
    fwd = asof_join(left, right, on="uid", right_cols=["rid"],
                    right_id="rid", direction="forward").toPandas()
    assert back["r_rid"].tolist() == [9]   # backward: largest rid wins
    assert fwd["r_rid"].tolist() == [5]    # forward: smallest rid wins


def test_asof_tolerance_and_no_match(spark):
    left = spark.createDataFrame(pd.DataFrame({
        "uid": [1, 1, 2],
        "ts": pd.to_datetime(["2024-01-01 01:00", "2024-01-01 02:00",
                              "2024-01-01 01:00"]),
        "lid": [0, 1, 2]}))
    right = spark.createDataFrame(pd.DataFrame({
        "uid": [1], "ts": pd.to_datetime(["2024-01-01 00:59"]), "rid": [7]}))
    out = (asof_join(left, right, on="uid", right_cols=["rid"],
                     right_id="rid", tolerance_us=5 * 60 * 1_000_000)
           .toPandas().sort_values("lid"))
    # lid 0: 1 min away -> match; lid 1: 61 min -> nulled; lid 2: no key
    assert out["r_rid"].tolist()[0] == 7
    assert pd.isna(out["r_rid"].tolist()[1])
    assert pd.isna(out["r_rid"].tolist()[2])


def test_asof_one_shuffle(lr):
    _, _, ldf, rdf = lr
    out = asof_join(ldf, rdf, on="uid", right_cols=["rid"], right_id="rid")
    plan = out._jdf.queryExecution().executedPlan().toString()
    n_exchange = plan.count("Exchange")
    assert n_exchange == 1, plan  # union-window = ONE shuffle on the key


def test_sessionize_gap_boundary(spark):
    ev = spark.createDataFrame(pd.DataFrame({
        "user_id": [1, 1, 1, 1],
        "event_id": [0, 1, 2, 3],
        "ts": pd.to_datetime([
            "2024-01-01 00:00:00",
            "2024-01-01 00:30:00",    # exactly gap_s -> same session
            "2024-01-01 01:00:00.000001",  # gap_s + 1us -> new session
            "2024-01-01 01:20:00"], format="mixed"),
        "value": [1.0, 1.0, 1.0, 1.0]}))
    out = (sessionize(ev, gap_s=1800).orderBy("event_id")
           .select("session_seq").toPandas()["session_seq"].tolist())
    assert out == [1, 1, 2, 2]


def test_session_stats_values(spark):
    ev = spark.createDataFrame(pd.DataFrame({
        "user_id": [1, 1, 1, 2],
        "event_id": [0, 1, 2, 3],
        "ts": pd.to_datetime(["2024-01-01 00:00", "2024-01-01 00:10",
                              "2024-01-01 02:00", "2024-01-01 00:00"]),
        "value": [1.25, 2.0, 3.0, 4.0]}))
    out = (session_stats(ev, gap_s=1800)
           .orderBy("user_id", "session_seq").toPandas())
    assert out["n_events"].tolist() == [2, 1, 1]
    assert out["value_cents"].tolist() == [325, 300, 400]
    assert out["session_end"].iloc[0] == pd.Timestamp("2024-01-01 00:10")


def test_sessionize_one_shuffle(spark):
    ev = spark.createDataFrame(pd.DataFrame({
        "user_id": [1, 2], "event_id": [0, 1],
        "ts": pd.to_datetime(["2024-01-01", "2024-01-02"]),
        "value": [1.0, 2.0]}))
    plan = (sessionize(ev)._jdf.queryExecution().executedPlan().toString())
    assert plan.count("Exchange") == 1, plan


def test_interval_join_basic_and_edges(spark):
    from osmspark.pipeline.temporal import interval_join
    pts = spark.createDataFrame(
        [(1, 5), (2, 10), (3, 19), (4, 20), (5, 1000), (6, -7)],
        "id long, t long")
    ivs = spark.createDataFrame(
        [(100, 10, 20),    # half-open: catches 10, 19, not 20
         (101, 0, 6),      # catches 5
         (102, 30, 30),    # empty -> nothing
         (103, 40, 35),    # reversed -> nothing (and must not error)
         (104, -10, 0)],   # negative domain: catches -7
        "iv_id long, t_start long, t_end long")
    out = sorted((r.id, r.iv_id) for r in
                 interval_join(pts, ivs, bucket=7).collect())
    assert out == [(1, 101), (2, 100), (3, 100), (6, 104)]


def test_interval_join_bruteforce_parity(spark):
    import numpy as np
    from osmspark.pipeline.temporal import interval_join
    rng = np.random.default_rng(5)
    pts = [(i, int(rng.integers(-1000, 1000))) for i in range(200)]
    ivs = []
    for j in range(40):
        s = int(rng.integers(-1000, 1000))
        ivs.append((j, s, s + int(rng.integers(0, 300))))
    got = sorted((r.id, r.iv_id) for r in interval_join(
        spark.createDataFrame(pts, "id long, t long"),
        spark.createDataFrame(ivs, "iv_id long, t_start long, t_end long"),
        bucket=64).collect())
    want = sorted((i, j) for (i, t) in pts for (j, s, e) in ivs
                  if s <= t < e)
    assert got == want and len(want) > 100


# --- forward fill (round 4) ---------------------------------------------

def test_forward_fill_locf(spark):
    from osmspark.pipeline.temporal import forward_fill
    rows = [
        (1, 10, None), (1, 20, 5.0), (1, 30, None), (1, 40, None),
        (1, 50, 7.0),
        (2, 10, None),                       # key with no observation
    ]
    df = spark.createDataFrame(rows, "k long, ts long, value double")
    got = {(r["k"], r["ts"]): r["value_filled"]
           for r in forward_fill(df, "k", "ts", "value").collect()}
    assert got[(1, 10)] is None               # leading gap: no backfill
    assert got[(1, 30)] == 5.0 and got[(1, 40)] == 5.0
    assert got[(1, 50)] == 7.0
    assert got[(2, 10)] is None               # isolated key untouched
