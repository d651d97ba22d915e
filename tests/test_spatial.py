"""Spatial operator tests through Spark: tiles, rollup, PIP, kNN."""

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest

from osmspark.spatial import (
    knn_join,
    pip_join,
    pip_join_bbox,
    raster_tile_counts,
    ray_cast_contains,
    rollup,
    tile_counts,
)

N = 8000


def knn_bruteforce(points, queries, k):
    """Exact kNN oracle: cross join + one window, the same squared
    planar-degree distance and (dist2, p_id) tie order as knn_join."""
    from pyspark.sql import Window

    p = points.select(F.col("id").alias("p_id"),
                      F.col("lat").alias("p_lat"), F.col("lon").alias("p_lon"))
    q = queries.select("q_id", F.col("lat").alias("q_lat"),
                       F.col("lon").alias("q_lon"))
    d2 = ((F.col("q_lat") - F.col("p_lat")) * (F.col("q_lat") - F.col("p_lat"))
          + (F.col("q_lon") - F.col("p_lon")) * (F.col("q_lon") - F.col("p_lon")))
    w = Window.partitionBy("q_id").orderBy("dist2", "p_id")
    return (q.crossJoin(p).withColumn("dist2", d2)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


@pytest.fixture(scope="module")
def pts(spark):
    rng = np.random.default_rng(3)
    lat = np.concatenate([51.5 + rng.normal(0, 0.05, N // 2),
                          rng.uniform(-60, 70, N // 2)])
    lon = np.concatenate([-0.12 + rng.normal(0, 0.05, N // 2),
                          rng.uniform(-179, 179, N // 2)])
    df = spark.createDataFrame(
        pd.DataFrame({"id": np.arange(N), "lat": lat, "lon": lon})).cache()
    df.count()
    return df, lat, lon


def test_hex_tiles_preserve_total(pts):
    df, _, _ = pts
    tiles = tile_counts(df, 7, grid="hex")
    assert tiles.agg(F.sum("n_points")).collect()[0][0] == N


def test_hex_tiles_salted_equals_unsalted(pts):
    df, _, _ = pts
    a = {(r.cell, r.n_points) for r in tile_counts(df, 7).collect()}
    b = {(r.cell, r.n_points) for r in tile_counts(df, 7, salt=8).collect()}
    assert a == b


def test_s2_rollup_exactly_nested(pts):
    df, _, _ = pts
    t10 = tile_counts(df, 10, grid="s2")
    up = rollup(t10, 9, grid="s2")
    direct = tile_counts(df, 9, grid="s2")
    mismatches = (up.alias("a").join(direct.alias("b"), "cell", "full")
                  .filter(F.coalesce(F.col("a.n_points"), F.lit(0))
                          != F.coalesce(F.col("b.n_points"), F.lit(0))).count())
    assert mismatches == 0


def test_hex_rollup_preserves_total(pts):
    df, _, _ = pts
    up = rollup(tile_counts(df, 7), 6)
    assert up.agg(F.sum("n_points")).collect()[0][0] == N


def test_raster_tiles(pts):
    df, lat, lon = pts
    r = raster_tile_counts(df, 6)
    assert r.agg(F.sum("n_points")).collect()[0][0] == N
    # every tile coordinate in range
    bad = r.filter((F.col("tile_x") < 0) | (F.col("tile_x") > 63)
                   | (F.col("tile_y") < 0) | (F.col("tile_y") > 63)).count()
    assert bad == 0


def test_pip_rectangle_exact(spark, pts):
    df, lat, lon = pts
    polys = pd.DataFrame([{
        "poly_id": 1, "name": "london_box",
        "min_lat": 51.4, "min_lon": -0.3, "max_lat": 51.6, "max_lon": 0.1,
        "ring_lat": [51.4, 51.4, 51.6, 51.6],
        "ring_lon": [-0.3, 0.1, 0.1, -0.3]}])
    got = pip_join(df, polys, res=6).count()
    expected = int(np.sum((lat >= 51.4) & (lat <= 51.6)
                          & (lon >= -0.3) & (lon <= 0.1)))
    # ray-cast half-open boundary vs closed bbox can differ only on exact
    # boundary hits — absent in continuous random data
    assert got == expected


def test_pip_nonconvex_matches_numpy_oracle(spark, pts):
    df, lat, lon = pts
    ring_lat = [51.3, 51.3, 51.5, 51.5, 51.7, 51.7]
    ring_lon = [-0.5, 0.2, 0.2, -0.1, -0.1, -0.5]
    polys = pd.DataFrame([{
        "poly_id": 2, "name": "L",
        "min_lat": 51.3, "min_lon": -0.5, "max_lat": 51.7, "max_lon": 0.2,
        "ring_lat": ring_lat, "ring_lon": ring_lon}])
    got = pip_join(df, polys, res=6).count()
    expected = int(ray_cast_contains(
        lat, lon, np.array(ring_lat), np.array(ring_lon)).sum())
    assert got == expected


def test_pip_broadcast_plan(spark, pts):
    """The candidate join must be a BroadcastHashJoin (big side unshuffled)."""
    df, _, _ = pts
    polys = pd.DataFrame([{
        "poly_id": 1, "name": "b", "min_lat": 51.4, "min_lon": -0.3,
        "max_lat": 51.6, "max_lon": 0.1,
        "ring_lat": [51.4, 51.4, 51.6, 51.6],
        "ring_lon": [-0.3, 0.1, 0.1, -0.3]}])
    plan = pip_join(df, polys, res=6)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_pip_bbox_join(spark, pts):
    df, lat, lon = pts
    polys = spark.createDataFrame(pd.DataFrame([
        {"poly_id": 1, "min_lat": 51.4, "min_lon": -0.3,
         "max_lat": 51.6, "max_lon": 0.1}]))
    got = pip_join_bbox(df, polys).count()
    expected = int(np.sum((lat >= 51.4) & (lat <= 51.6)
                          & (lon >= -0.3) & (lon <= 0.1)))
    assert got == expected


def test_knn_matches_bruteforce(spark, pts):
    df, _, _ = pts
    rng = np.random.default_rng(9)
    queries = spark.createDataFrame(pd.DataFrame({
        "q_id": np.arange(40),
        "lat": 51.5 + rng.normal(0, 0.05, 40),
        "lon": -0.12 + rng.normal(0, 0.05, 40)}))
    bf = {tuple(r) for r in
          knn_bruteforce(df, queries, 5).select("q_id", "p_id", "rank").collect()}
    kr = {tuple(r) for r in
          knn_join(df, queries, 5, res=6, ring=2).select("q_id", "p_id", "rank").collect()}
    assert bf == kr


def test_knn_sparse_region_fallback(spark, pts):
    """Queries in empty ocean cells exercise the brute-force repair path."""
    df, _, _ = pts
    queries = spark.createDataFrame(pd.DataFrame({
        "q_id": [1, 2], "lat": [-80.0, -75.0], "lon": [170.0, -120.0]}))
    bf = {tuple(r) for r in
          knn_bruteforce(df, queries, 3).select("q_id", "p_id", "rank").collect()}
    kr = {tuple(r) for r in
          knn_join(df, queries, 3, res=6, ring=1).select("q_id", "p_id", "rank").collect()}
    assert bf == kr


def test_knn_broadcast_matches_bruteforce(spark, pts):
    import pandas as pd

    from osmspark.spatial import knn_broadcast

    df, _, _ = pts
    qpdf = pd.DataFrame({"q_id": [0, 1, 2],
                         "lat": [51.5, 48.86, 0.0],
                         "lon": [-0.12, 2.35, 0.0]})
    queries = spark.createDataFrame(qpdf)
    bf = {(r.q_id, r.p_id, r.rank) for r in
          knn_bruteforce(df, queries, 5).select("q_id", "p_id", "rank").collect()}
    bc = {(r.q_id, r.p_id, r.rank) for r in
          knn_broadcast(df, qpdf, 5).select("q_id", "p_id", "rank").collect()}
    assert bf == bc


def test_knn_empty_queries(spark, pts):
    """Empty query frame returns an empty, correctly-typed result."""
    df, _, _ = pts
    queries = spark.createDataFrame([], "q_id long, lat double, lon double")
    out = knn_join(df, queries, 5)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["q_id", "p_id", "dist2", "rank"]


def test_knn_mixed_density_queries(spark, pts):
    """Dense-cluster + sparse-region queries in ONE call: exercises the
    mixed-resolution ladder (several res groups in a single pass) plus
    the broadcast fallback, and must still equal brute force."""
    df, _, _ = pts
    rng = np.random.default_rng(11)
    queries = spark.createDataFrame(pd.DataFrame({
        "q_id": np.arange(24),
        "lat": np.concatenate([51.5 + rng.normal(0, 0.03, 8),
                               rng.uniform(-50, 60, 8),
                               [-80.0] * 8]),
        "lon": np.concatenate([-0.12 + rng.normal(0, 0.03, 8),
                               rng.uniform(-170, 170, 8),
                               np.linspace(-170, 170, 8)])}))
    bf = {tuple(r) for r in
          knn_bruteforce(df, queries, 4).select("q_id", "p_id", "rank").collect()}
    kr = {tuple(r) for r in
          knn_join(df, queries, 4, res=8, ring=1).select("q_id", "p_id", "rank").collect()}
    assert bf == kr


def test_pip_sql_raycast_matches_numpy_concave(spark, pts):
    """The pure-SQL ray-cast fold must agree with the NumPy
    ray_cast_contains on a CONCAVE polygon (the rectangle oracle can't
    pin winding/concavity behavior; identical edge pairing + float
    shapes make the two paths bit-equal)."""
    df, lat, lon = pts
    # concave "L" around London
    ring_lat = [51.40, 51.40, 51.50, 51.50, 51.60, 51.60]
    ring_lon = [-0.30, 0.10, 0.10, -0.10, -0.10, -0.30]
    polys = pd.DataFrame([{
        "poly_id": 7, "name": "L-shape",
        "min_lat": min(ring_lat), "max_lat": max(ring_lat),
        "min_lon": min(ring_lon), "max_lon": max(ring_lon),
        "ring_lat": ring_lat, "ring_lon": ring_lon}])
    got = {r.id for r in pip_join(df, polys, res=6).collect()}
    want = set(np.arange(N)[ray_cast_contains(
        lat, lon, np.array(ring_lat), np.array(ring_lon))].tolist())
    assert got == want and len(want) > 0


def test_density_sample_one_scan_exact_rate(spark, pts, tmp_path_factory):
    """The single-scan sketch: the realized rate must be exact — the row
    count rides the same scan via an Observation (CollectMetrics is a
    pushdown barrier, so the count sees ALL rows, not the filtered ones),
    and len(sample)/rate recovers the true table size."""
    from osmspark.spatial.knn import density_sample

    df, _, _ = pts
    path = str(tmp_path_factory.mktemp("ds") / "points")
    df.write.parquet(path)
    scan = spark.read.parquet(path)
    pdf, rate = density_sample(scan, target=500)
    assert 0 < len(pdf) <= 4 * 500
    assert abs(len(pdf) / rate - N) < 1e-6
    assert list(pdf.columns) == ["lat", "lon"]
    # target above the table size: full keep, rate exactly 1
    pdf_all, rate_all = density_sample(scan, target=10 * N)
    assert len(pdf_all) == N and rate_all == 1.0
