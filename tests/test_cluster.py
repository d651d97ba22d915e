"""DBSCAN vs a brute-force reference implementing the same
deterministic semantics (min-id cluster labels, min-label border
assignment)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from osmspark.spatial.cluster import dbscan


def _ref_dbscan(ids: np.ndarray, lat: np.ndarray, lon: np.ndarray,
                eps: float, min_pts: int) -> pd.DataFrame:
    """O(n²) reference: neighborhood matrix + union-find."""
    n = len(ids)
    d2 = (lat[:, None] - lat[None, :]) ** 2 + (lon[:, None] - lon[None, :]) ** 2
    nb = d2 <= eps * eps  # diagonal True: |N_eps(p)| includes p
    core = nb.sum(axis=1) >= min_pts

    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i in range(n):
        if not core[i]:
            continue
        for j in range(i + 1, n):
            if core[j] and nb[i, j]:
                ri, rj = find(i), find(j)
                if ri != rj:
                    parent[rj] = ri
    # component label = min core id in the component
    comp_min: dict[int, int] = {}
    for i in range(n):
        if core[i]:
            r = find(i)
            comp_min[r] = min(comp_min.get(r, ids[i]), ids[i])
    cluster = np.full(n, -1, dtype=np.int64)
    for i in range(n):
        if core[i]:
            cluster[i] = comp_min[find(i)]
    for i in range(n):
        if core[i]:
            continue
        nbs = [cluster[j] for j in range(n) if j != i and nb[i, j] and core[j]]
        if nbs:
            cluster[i] = min(nbs)
    return pd.DataFrame({"id": ids, "is_core": core,
                         "cluster_id": [None if c < 0 else int(c)
                                        for c in cluster]})


def _compare(spark, pdf, eps, min_pts):
    got = (dbscan(spark.createDataFrame(pdf), eps, min_pts)
           .orderBy("id").toPandas())
    exp = (_ref_dbscan(pdf["id"].to_numpy(), pdf["lat"].to_numpy(),
                       pdf["lon"].to_numpy(), eps, min_pts)
           .sort_values("id", ignore_index=True))
    assert got["id"].tolist() == exp["id"].tolist()
    assert got["is_core"].tolist() == exp["is_core"].tolist()
    g = [None if pd.isna(x) else int(x) for x in got["cluster_id"]]
    e = [None if pd.isna(x) else int(x) for x in exp["cluster_id"]]
    assert g == e


@pytest.mark.parametrize("eps,min_pts", [(0.8, 4), (1.5, 6), (0.5, 2)])
def test_dbscan_matches_bruteforce(spark, eps, min_pts):
    rng = np.random.default_rng(31)
    # clustered blobs + uniform background so all three classes appear
    centers = rng.uniform(-8, 8, (6, 2))
    blob = centers[rng.integers(0, 6, 300)] + rng.normal(0, 0.4, (300, 2))
    bg = rng.uniform(-10, 10, (100, 2))
    xy = np.vstack([blob, bg])
    pdf = pd.DataFrame({"id": np.arange(len(xy)),
                        "lat": xy[:, 0], "lon": xy[:, 1]})
    _compare(spark, pdf, eps, min_pts)


def test_dbscan_min_pts_one_all_core(spark):
    pdf = pd.DataFrame({"id": [10, 20, 30],
                        "lat": [0.0, 50.0, 50.3],
                        "lon": [0.0, 50.0, 50.0]})
    got = dbscan(spark.createDataFrame(pdf), 0.5, 1).orderBy("id").toPandas()
    assert got["is_core"].all()
    # isolated point is its own singleton cluster; the close pair merges
    assert got["cluster_id"].tolist() == [10, 20, 20]


def test_dbscan_all_noise(spark):
    pdf = pd.DataFrame({"id": [1, 2, 3],
                        "lat": [0.0, 10.0, 20.0],
                        "lon": [0.0, 10.0, 20.0]})
    got = dbscan(spark.createDataFrame(pdf), 1.0, 2).orderBy("id").toPandas()
    assert (~got["is_core"]).all()
    assert got["cluster_id"].isna().all()


def test_dbscan_border_takes_min_cluster(spark):
    # two 4-point core chains; the point at lat=0.8 reaches exactly ONE
    # core of each (|N|=3 < min_pts=4 so it stays a border) and joins
    # the min cluster id (0), never cluster 10
    pdf = pd.DataFrame({
        "id": [0, 1, 2, 3, 10, 11, 12, 13, 99],
        "lat": [0.0, 0.1, 0.2, 0.3, 1.3, 1.4, 1.5, 1.6, 0.8],
        "lon": [0.0] * 9})
    got = (dbscan(spark.createDataFrame(pdf), 0.55, 4)
           .orderBy("id").toPandas().set_index("id"))
    assert bool(got.loc[3, "is_core"]) and bool(got.loc[10, "is_core"])
    assert not bool(got.loc[99, "is_core"])  # self + 2 neighbors < 4
    assert got.loc[0, "cluster_id"] == 0
    assert got.loc[10, "cluster_id"] == 10
    assert got.loc[99, "cluster_id"] == 0  # min of {0, 10}


# ---------------------------------------------------------------------------
# st_dbscan
# ---------------------------------------------------------------------------

from osmspark.spatial.cluster import st_dbscan


def _ref_st_dbscan(ids, lat, lon, ts, eps, eps_t, min_pts):
    """Same union-find reference with the added |Δt| <= eps_t gate."""
    n = len(ids)
    d2 = (lat[:, None] - lat[None, :]) ** 2 \
        + (lon[:, None] - lon[None, :]) ** 2
    dt = np.abs(ts[:, None] - ts[None, :])
    nb = (d2 <= eps * eps) & (dt <= eps_t)
    core = nb.sum(axis=1) >= min_pts
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i in range(n):
        if core[i]:
            for j in range(i + 1, n):
                if core[j] and nb[i, j]:
                    ri, rj = find(i), find(j)
                    if ri != rj:
                        parent[rj] = ri
    comp_min = {}
    for i in range(n):
        if core[i]:
            r = find(i)
            comp_min[r] = min(comp_min.get(r, ids[i]), ids[i])
    cluster = np.full(n, -1, dtype=np.int64)
    for i in range(n):
        if core[i]:
            cluster[i] = comp_min[find(i)]
    for i in range(n):
        if not core[i]:
            nbs = [cluster[j] for j in range(n)
                   if j != i and nb[i, j] and core[j]]
            if nbs:
                cluster[i] = min(nbs)
    return pd.DataFrame({"id": ids, "is_core": core,
                         "cluster_id": [None if c < 0 else int(c)
                                        for c in cluster]})


def _st_compare(spark, pdf, eps, eps_t, min_pts):
    got = (st_dbscan(spark.createDataFrame(pdf), eps, eps_t, min_pts)
           .orderBy("id").toPandas())
    exp = (_ref_st_dbscan(pdf["id"].to_numpy(), pdf["lat"].to_numpy(),
                          pdf["lon"].to_numpy(), pdf["ts_us"].to_numpy(),
                          eps, eps_t, min_pts)
           .sort_values("id", ignore_index=True))
    assert got["is_core"].tolist() == exp["is_core"].tolist()
    g = [None if pd.isna(x) else int(x) for x in got["cluster_id"]]
    e = [None if pd.isna(x) else int(x) for x in exp["cluster_id"]]
    assert g == e


@pytest.mark.parametrize("eps,eps_t,min_pts",
                         [(0.8, 50, 4), (1.5, 200, 6), (0.5, 20, 2)])
def test_st_dbscan_matches_bruteforce(spark, eps, eps_t, min_pts):
    rng = np.random.RandomState(7)
    n = 160
    pdf = pd.DataFrame({
        "id": np.arange(n, dtype=np.int64),
        "lat": np.round(rng.uniform(-3, 3, n), 3),
        "lon": np.round(rng.uniform(-3, 3, n), 3),
        "ts_us": rng.randint(0, 400, n).astype(np.int64)})
    _st_compare(spark, pdf, eps, eps_t, min_pts)


def test_st_dbscan_time_splits_spatial_cluster(spark):
    # one tight spatial blob, two well-separated time epochs:
    # plain dbscan = 1 cluster; st_dbscan = 2
    pdf = pd.DataFrame({
        "id": np.arange(10, dtype=np.int64),
        "lat": np.zeros(10) + np.arange(10) * 0.01,
        "lon": np.zeros(10),
        "ts_us": np.array([0] * 5 + [10 ** 9] * 5, dtype=np.int64)})
    got = (st_dbscan(spark.createDataFrame(pdf), eps=0.2,
                     eps_t_us=1000, min_pts=3)
           .orderBy("id").toPandas())
    labels = set(got["cluster_id"].astype(int))
    assert labels == {0, 5}
    plain = dbscan(spark.createDataFrame(pdf[["id", "lat", "lon"]]),
                   0.2, 3).toPandas()
    assert set(plain["cluster_id"].astype(int)) == {0}
