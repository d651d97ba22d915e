"""Grid encoder invariants: S2 round-trip/hierarchy/Hilbert adjacency
(on the NumPy S2 oracle in s2_reference.py) + hexgrid round-trip/k-ring,
plus pinned regression ids (our determinism contract — SURVEY.md §7.4),
all without Spark; the SQL encoders bit-identical to the NumPy ones; and
the square-lattice offset sets, checked through one Spark scatter."""

import numpy as np
import pytest
import s2_reference as S

from osmspark.grid import hexgrid as H
from osmspark.grid import lattice as L


def _haversine_m(lat1, lng1, lat2, lng2):
    R = 6371000.0
    p1, p2 = np.radians(lat1), np.radians(lat2)
    a = (np.sin((p2 - p1) / 2) ** 2
         + np.cos(p1) * np.cos(p2) * np.sin(np.radians(lng2 - lng1) / 2) ** 2)
    return 2 * R * np.arcsin(np.sqrt(a))


def test_s2_leaf_roundtrip():
    rng = np.random.default_rng(1)
    lat = rng.uniform(-89.9, 89.9, 5000)
    lng = rng.uniform(-180, 180, 5000)
    clat, clng = S.cell_center_latlng(S.leaf_cell_id(lat, lng))
    assert _haversine_m(lat, lng, clat, clng).max() < 0.02  # leaf ≈ 1cm


def test_s2_hierarchy_and_ranges():
    rng = np.random.default_rng(2)
    lat = rng.uniform(-89.9, 89.9, 5000)
    lng = rng.uniform(-180, 180, 5000)
    leaf = S.leaf_cell_id(lat, lng)
    for level in (4, 9, 14):
        c = S.cell_id(lat, lng, level)
        assert np.array_equal(c, S.parent(S.cell_id(lat, lng, level + 1), level))
        assert np.all(S.level_of(c) == level)
        rmin, rmax = S.range_min_max(c)
        assert np.all((leaf >= rmin) & (leaf <= rmax))


def test_s2_hilbert_adjacency():
    """Consecutive curve positions are adjacent cells — pins the traversal
    tables (a wrong table breaks locality, the whole point of S2)."""
    face = np.zeros(4096, dtype=np.int64)
    pos = np.arange(4096, dtype=np.int64) << (2 * (30 - 6))
    i, j = S._pos_to_face_ij(face, pos)
    i >>= (30 - 6)
    j >>= (30 - 6)
    steps = np.abs(np.diff(i)) + np.abs(np.diff(j))
    assert steps.max() == 1


def test_s2_center_reencodes():
    rng = np.random.default_rng(3)
    lat = rng.uniform(-80, 80, 2000)
    lng = rng.uniform(-180, 180, 2000)
    c = S.cell_id(lat, lng, 10)
    clat, clng = S.cell_center_latlng(c)
    assert np.mean(S.cell_id(clat, clng, 10) == c) > 0.999


def test_s2_pinned_regression():
    """Determinism pin: these ids must never change across refactors."""
    lat = np.array([51.5074089, 40.7128, -33.8688, 0.0, 89.0])
    lng = np.array([-0.1080108, -74.0060, 151.2093, 0.0, 135.0])
    got = S.cell_id(lat, lng, 12).tolist()
    assert got == S.cell_id(lat, lng, 12).tolist()  # stable
    # regression values captured from this implementation
    expected = [5221365971943424000, 9926595690882924544,
                7715420632820744192, 1152921573326323712,
                6533508030246420480]
    assert got == expected, got


def test_hex_roundtrip_and_hierarchy():
    rng = np.random.default_rng(4)
    lat = rng.uniform(-85, 85, 10000)
    lon = rng.uniform(-180, 180, 10000)
    for res in (5, 7, 9):
        c = H.cell_id(lat, lon, res)
        assert np.all(H.resolution_of(c) == res)
        clat, clon = H.cell_to_center(c)
        assert np.array_equal(H.cell_id(clat, clon, res), c)
        assert np.abs(clat - lat).max() < H.edge_deg(res) * 1.2


def _hex_distance(id_a, id_b):
    """Hex grid distance between same-resolution cells (cube metric)."""
    qa, ra = H.qr_of(id_a)
    qb, rb = H.qr_of(id_b)
    dq, dr = qa - qb, ra - rb
    return (np.abs(dq) + np.abs(dr) + np.abs(dq + dr)) // 2


def test_hex_kring_and_neighbors():
    rng = np.random.default_rng(5)
    c = H.cell_id(rng.uniform(-60, 60, 100), rng.uniform(-170, 170, 100), 7)
    ring = H.k_ring(c, 2)
    assert ring.shape == (100, 19)  # 3k(k+1)+1
    d = _hex_distance(np.repeat(c, 19), ring.ravel()).reshape(100, 19)
    assert np.all(d <= 2)
    # 1 + 6 + 12 cells at distance 0, 1, 2 (the 6 neighbours at 1)
    assert np.all((d == 1).sum(axis=1) == 6)
    # self always in own ring
    assert np.all((ring == c[:, None]).sum(axis=1) == 1)


def test_hex_kring_covers_disk():
    """Geometric guarantee used by knn_join: any point within
    (1.5·ring − 0.5)·edge of the query is inside the ring's cells."""
    rng = np.random.default_rng(6)
    res, ring_k = 6, 2
    edge = H.edge_deg(res)
    guar = (1.5 * ring_k - 0.5) * edge
    qlat = rng.uniform(-60, 60, 200)
    qlon = rng.uniform(-170, 170, 200)
    qcell = H.cell_id(qlat, qlon, res)
    rings = H.k_ring(qcell, ring_k)
    theta = rng.uniform(0, 2 * np.pi, 200)
    rad = rng.uniform(0, guar, 200)
    plat = qlat + rad * np.sin(theta)
    plon = qlon + rad * np.cos(theta)
    pcell = H.cell_id(plat, plon, res)
    assert np.all((rings == pcell[:, None]).any(axis=1))


def test_hex_pinned_regression():
    lat = np.array([51.5074089, 40.7128, -33.8688])
    lon = np.array([-0.1080108, -74.0060, 151.2093])
    got = H.cell_id(lat, lon, 8).tolist()
    # regression values captured from this implementation (res ≥ 8 sets
    # bit 63 → negative int64; still unique and invertible)
    expected = [-8646915726084399052, -8646925797782709899,
                -8646885867471770925]
    assert got == expected, got


def test_hex_sql_expr_matches_numpy(spark):
    """hex_cell_col is bit-identical to the numpy kernel — the
    production encode path is the SQL expression."""
    import pandas as pd
    from pyspark.sql import functions as F

    from osmspark.grid.hexgrid_sql import hex_cell_col

    rng = np.random.default_rng(99)
    lat = rng.uniform(-89.9, 89.9, 5000)
    lon = rng.uniform(-180, 180, 5000)
    df = spark.createDataFrame(pd.DataFrame({"lat": lat, "lon": lon}))
    for res in (0, 5, 7, 9, 12):
        got = np.array([r[0] for r in df.select(
            hex_cell_col(F.col("lat"), F.col("lon"), res)).collect()])
        assert np.array_equal(got, H.cell_id(lat, lon, res)), res


def test_s2_sql_expr_matches_numpy(spark):
    """with_s2_cell_sql is bit-identical to the numpy s2 encoder — the
    production S2 tiling path is the SQL expression (no Python worker)."""
    import pandas as pd

    from osmspark.grid.s2_sql import with_s2_cell_sql

    rng = np.random.default_rng(77)
    lat = rng.uniform(-89.9, 89.9, 5000)
    lon = rng.uniform(-180, 180, 5000)
    df = spark.createDataFrame(pd.DataFrame({"lat": lat, "lon": lon}))
    for level in (0, 5, 10, 20, 30):
        got = with_s2_cell_sql(df, level).toPandas()
        want = S.cell_id(got["lat"].to_numpy(), got["lon"].to_numpy(),
                         level).astype(np.int64)
        assert np.array_equal(got["cell"].to_numpy(), want), level


def test_sql_parent_cols_match_numpy(spark):
    """s2_parent_col (the S2 rollup path, pure SQL) is bit-identical to
    the NumPy S2 parent across level pairs."""
    import pandas as pd
    from pyspark.sql import functions as F

    from osmspark.grid.s2_sql import s2_parent_col

    rng = np.random.default_rng(123)
    lat = rng.uniform(-89.9, 89.9, 5000)
    lon = rng.uniform(-180, 180, 5000)
    for child, parent in ((10, 8), (14, 6), (30, 10)):
        cells = S.cell_id(lat, lon, child).astype(np.int64)
        df = spark.createDataFrame(pd.DataFrame({"cell": cells}))
        got = np.array([r[0] for r in
                        df.select(s2_parent_col(F.col("cell"), parent))
                        .collect()])
        want = S.parent(cells.astype(np.uint64), parent).astype(np.int64)
        assert np.array_equal(got, want), (child, parent)


def test_quadkey_known_values_and_prefix(spark):
    from osmspark.spatial.tiles import with_quadkey
    df = spark.createDataFrame(
        [(3, 5, 10), (35210, 21493, 1)],
        "tile_x long, tile_y long, n_points long")
    # canonical Bing example: tile (3,5) @ z3 -> "213"
    (r,) = with_quadkey(df.filter("tile_x = 3"), 3).collect()
    assert r.quadkey == "213"
    # zoom-16 tile: parent prefix property vs its z15 parent
    (a,) = with_quadkey(df.filter("tile_x = 35210"), 16).collect()
    (b,) = with_quadkey(
        spark.createDataFrame([(35210 // 2, 21493 // 2, 1)],
                              "tile_x long, tile_y long, n_points long"),
        15).collect()
    assert len(a.quadkey) == 16 and a.quadkey.startswith(b.quadkey)


@pytest.mark.parametrize("offsets, expected", [
    (L.ROOK, [(1, 0), (-1, 0), (0, 1), (0, -1)]),
    (L.D8, [(-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 1),
            (1, -1), (1, 0), (1, 1)]),
    (L.block(1), [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]),
    (L.block(2, centre=False),
     [(dx, dy) for dx in range(-2, 3) for dy in range(-2, 3)
      if (dx, dy) != (0, 0)]),
    (L.block(1, dims=1), [(-1,), (0,), (1,)]),
    (L.SPACETIME, [(dx, dy, dt) for dx in (-1, 0, 1)
                   for dy in (-1, 0, 1) for dt in (-1, 0, 1)]),
], ids=["rook", "d8", "block1", "block2_no_centre", "block1_1d",
        "spacetime"])
def test_lattice_scatter_yields_offset_set(spark, offsets, expected):
    """Scattering one cell at the origin lands exactly on each offset,
    in the set's order (D8 dx-major: d8_flow's tie-break index)."""
    keys = ["k0", "k1", "k2"][:len(expected[0])]
    cell = spark.createDataFrame([tuple([0] * len(keys)) + (7,)],
                                 ", ".join(f"{k} long" for k in keys)
                                 + ", v long")
    rows = L.scatter(cell, keys, offsets, "v").collect()
    assert [tuple(r[k] for k in keys) for r in rows] == expected
    assert all(r.v == 7 and all(r[f"o_{k}"] == 0 for k in keys)
               for r in rows)
