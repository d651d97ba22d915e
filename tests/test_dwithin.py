"""dwithin_join: completeness/exactness vs brute force, boundary
inclusivity, self-join semantics, and no-cross-join plan shape."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from osmspark.spatial.dwithin import dwithin_join


@pytest.fixture(scope="module")
def pts(spark):
    rng = np.random.default_rng(11)
    n = 500
    pdf = pd.DataFrame({
        "id": np.arange(n),
        "lat": rng.uniform(-5, 5, n),
        "lon": rng.uniform(-5, 5, n)})
    return pdf, spark.createDataFrame(pdf)


def _brute_pairs(pdf: pd.DataFrame, qdf: pd.DataFrame, r: float) -> set:
    la, lo = pdf["lat"].to_numpy(), pdf["lon"].to_numpy()
    qa, qo = qdf["lat"].to_numpy(), qdf["lon"].to_numpy()
    d2 = (qa[:, None] - la[None, :]) ** 2 + (qo[:, None] - lo[None, :]) ** 2
    ai, bi = np.nonzero(d2 <= r * r)
    return set(zip(qdf["id"].to_numpy()[ai].tolist(),
                   pdf["id"].to_numpy()[bi].tolist()))


def test_self_join_matches_bruteforce(pts):
    pdf, df = pts
    r = 0.4
    got = dwithin_join(df, df, r).toPandas()
    exp = _brute_pairs(pdf, pdf, r)
    assert set(zip(got["a_id"], got["b_id"])) == exp
    # exactly once per pair
    assert len(got) == len(exp)


def test_two_sided_and_dist2_exact(pts, spark):
    pdf, df = pts
    qpdf = pdf.iloc[:40].assign(id=lambda d: d["id"] + 10_000)
    qdf = spark.createDataFrame(qpdf)
    r = 1.1
    got = (dwithin_join(qdf, df, r).toPandas()
           .sort_values(["a_id", "b_id"]).reset_index(drop=True))
    assert set(zip(got["a_id"], got["b_id"])) == _brute_pairs(pdf, qpdf, r)
    # dist2 is the exact planar expression
    j = got.merge(qpdf, left_on="a_id", right_on="id") \
           .merge(pdf, left_on="b_id", right_on="id", suffixes=("_q", "_p"))
    d2 = (j["lat_q"] - j["lat_p"]) ** 2 + (j["lon_q"] - j["lon_p"]) ** 2
    assert np.array_equal(got["dist2"].to_numpy(),
                          d2.to_numpy()[np.argsort(j.index)])


def test_boundary_inclusive_and_negative_coords(spark):
    a = spark.createDataFrame(pd.DataFrame(
        {"id": [1], "lat": [-2.0], "lon": [-3.0]}))
    b = spark.createDataFrame(pd.DataFrame(
        {"id": [2, 3], "lat": [-2.0, -2.0], "lon": [-2.0, -1.9999]}))
    out = dwithin_join(a, b, 1.0).toPandas()
    # id 2 exactly radius away -> included (dist2 == r^2); id 3 excluded
    assert out["b_id"].tolist() == [2]
    assert out["dist2"].tolist() == [1.0]


def test_keep_self_false_halves_pairs(pts):
    pdf, df = pts
    got = dwithin_join(df, df, 0.4, keep_self=False).toPandas()
    full = _brute_pairs(pdf, pdf, 0.4)
    exp = {(x, y) for x, y in full if x < y}
    assert set(zip(got["a_id"], got["b_id"])) == exp


def test_no_cross_join_in_plan(pts):
    _, df = pts
    plan = (dwithin_join(df, df, 0.4)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
