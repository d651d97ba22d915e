"""Moran's I — osmspark/spatial/autocorr.py.

Pins the sign behavior on crafted lattices (checkerboard → strongly
negative, two homogeneous halves → positive), the exact integer
moments vs a NumPy float reference, and the degenerate NULL cases.
"""

import numpy as np

from osmspark.spatial.autocorr import morans_i


def _moran_np(cells):
    xs = np.array([c[2] for c in cells], dtype=float)
    n = len(cells)
    xbar = xs.mean()
    pos = {(c[0], c[1]): i for i, c in enumerate(cells)}
    num = 0.0
    w = 0
    for (cx, cy), i in pos.items():
        for dx, dy in ((1, 0), (-1, 0), (0, 1), (0, -1)):
            j = pos.get((cx + dx, cy + dy))
            if j is not None:
                num += (xs[i] - xbar) * (xs[j] - xbar)
                w += 1
    den = ((xs - xbar) ** 2).sum()
    return n / w * num / den


def _run(spark, cells):
    df = spark.createDataFrame(cells, "cell_x long, cell_y long, n long")
    return morans_i(df).collect()[0]


def test_checkerboard_is_strongly_negative(spark):
    cells = [(x, y, 10 if (x + y) % 2 == 0 else 1)
             for x in range(4) for y in range(4)]
    r = _run(spark, cells)
    assert r["moran_i"] < -0.9
    assert abs(r["moran_i"] - _moran_np(cells)) < 1e-9
    assert r["w_pairs"] == 2 * (2 * 3 * 4)    # 24 lattice edges, ordered


def test_two_halves_positive(spark):
    cells = [(x, y, 100 if x < 2 else 1)
             for x in range(4) for y in range(4)]
    r = _run(spark, cells)
    assert r["moran_i"] > 0.5
    assert abs(r["moran_i"] - _moran_np(cells)) < 1e-9


def test_constant_values_null(spark):
    cells = [(x, 0, 7) for x in range(5)]
    r = _run(spark, cells)
    assert r["moran_i"] is None          # den = 0
    assert r["den"] == 0


def test_no_adjacency_null(spark):
    cells = [(0, 0, 1), (5, 5, 9)]       # isolated cells
    r = _run(spark, cells)
    assert r["w_pairs"] == 0
    assert r["moran_i"] is None


# ---- Getis-Ord Gi* ----------------------------------------------------

from osmspark.spatial.autocorr import getis_ord_gi_star  # noqa: E402


def _gi_np(cells, ring=1):
    xs = np.array([c[2] for c in cells], dtype=float)
    n = len(cells)
    xbar = xs.mean()
    s = np.sqrt((xs ** 2).mean() - xbar ** 2)
    pos = {(c[0], c[1]): i for i, c in enumerate(cells)}
    out = {}
    for (cx, cy), i in pos.items():
        nb = [pos[(cx + dx, cy + dy)]
              for dx in range(-ring, ring + 1)
              for dy in range(-ring, ring + 1)
              if (cx + dx, cy + dy) in pos]
        w = len(nb)
        l_sum = xs[nb].sum()
        denom = s * np.sqrt((n * w - w * w) / (n - 1))
        out[(cx, cy)] = (l_sum - xbar * w) / denom if denom > 0 else None
    return out


def _run_gi(spark, cells, ring=1):
    df = spark.createDataFrame(cells, "cell_x long, cell_y long, n long")
    return {(r["cell_x"], r["cell_y"]): r
            for r in getis_ord_gi_star(df, ring=ring).collect()}


def test_gi_star_matches_numpy_reference(spark):
    cells = [(x, y, (x * 7 + y * 13) % 23 + 1)
             for x in range(5) for y in range(4)]
    got = _run_gi(spark, cells)
    ref = _gi_np(cells)
    assert set(got) == set(ref)
    for k, r in got.items():
        assert abs(r["gi_z"] - ref[k]) < 1e-8


def test_gi_star_hot_cluster_is_positive(spark):
    # a 2x2 hot block in a cold 6x6 field: block cells z >> 0,
    # far-corner cells z < 0
    cells = [(x, y, 100 if (x in (2, 3) and y in (2, 3)) else 1)
             for x in range(6) for y in range(6)]
    got = _run_gi(spark, cells)
    assert got[(2, 2)]["gi_z"] > 2.0
    assert got[(0, 0)]["gi_z"] < 0.0
    # self-inclusive queen 3x3: interior cells observe 9 neighbors
    assert got[(2, 2)]["w_i"] == 9
    assert got[(0, 0)]["w_i"] == 4       # corner


def test_gi_star_degenerate_null(spark):
    # neighborhood covers ALL observed cells -> C_i = 0 -> NULL z
    cells = [(0, 0, 1), (0, 1, 5), (1, 0, 9), (1, 1, 2)]
    got = _run_gi(spark, cells)
    assert all(r["gi_z"] is None for r in got.values())
    # constant field -> B = 0 -> NULL even with proper neighborhoods
    flat = [(x, y, 7) for x in range(5) for y in range(5)]
    gotf = _run_gi(spark, flat)
    assert all(r["gi_z"] is None for r in gotf.values())


def test_gi_star_plan_no_cartesian_on_cells(spark):
    cells = [(x, y, x + y + 1) for x in range(4) for y in range(4)]
    df = spark.createDataFrame(cells, "cell_x long, cell_y long, n long")
    plan = getis_ord_gi_star(df)._jdf.queryExecution() \
        .executedPlan().toString()
    # the only nested-loop join allowed is the broadcast of the
    # one-row global moments; the neighbor join must be an equi-join
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2


# ---- Geary's C ------------------------------------------------------

from osmspark.spatial.autocorr import gearys_c


def _geary_np(cells):
    xs = np.array([c[2] for c in cells], dtype=float)
    n = len(cells)
    xbar = xs.mean()
    pos = {(c[0], c[1]): i for i, c in enumerate(cells)}
    num = 0.0
    w = 0
    for (cx, cy), i in pos.items():
        for dx, dy in ((1, 0), (-1, 0), (0, 1), (0, -1)):
            j = pos.get((cx + dx, cy + dy))
            if j is not None:
                num += (xs[i] - xs[j]) ** 2
                w += 1
    den = ((xs - xbar) ** 2).sum()
    return (n - 1) * num / (2 * w * den)


def _run_geary(spark, cells):
    df = spark.createDataFrame(cells, "cell_x long, cell_y long, n long")
    return gearys_c(df).collect()[0]


def test_geary_checkerboard_dispersed(spark):
    # alternating extremes: every neighbor difference is maximal -> C > 1
    cells = [(x, y, 10 if (x + y) % 2 == 0 else 1)
             for x in range(4) for y in range(4)]
    r = _run_geary(spark, cells)
    assert r["geary_c"] > 1.5
    assert abs(r["geary_c"] - _geary_np(cells)) < 1e-9
    assert r["w_pairs"] == 48


def test_geary_two_halves_clustered(spark):
    # homogeneous halves: only the 4 boundary edges differ -> C < 1
    cells = [(x, y, 100 if x < 2 else 1)
             for x in range(4) for y in range(4)]
    r = _run_geary(spark, cells)
    assert r["geary_c"] < 0.5
    assert abs(r["geary_c"] - _geary_np(cells)) < 1e-9


def test_geary_exact_integer_moments(spark):
    cells = [(0, 0, 3), (1, 0, 7), (2, 0, 2)]
    r = _run_geary(spark, cells)
    # ordered pairs: (3,7)x2, (7,2)x2 -> num = 2*16 + 2*25 = 82
    assert r["num"] == 82
    # dev = 3x - 12 -> (-3, 9, -6); den = 9 + 81 + 36 = 126
    assert r["den"] == 126
    assert abs(r["geary_c"] - _geary_np(cells)) < 1e-9


def test_geary_constant_field_null(spark):
    cells = [(x, 0, 7) for x in range(5)]
    r = _run_geary(spark, cells)
    assert r["geary_c"] is None
    assert r["den"] == 0
    assert r["num"] == 0       # all differences zero too


def test_geary_no_adjacency_null(spark):
    cells = [(0, 0, 1), (5, 5, 9)]
    r = _run_geary(spark, cells)
    assert r["geary_c"] is None
    assert r["w_pairs"] == 0


# ---------------------------------------------------------------------------
# local_morans_i (LISA)
# ---------------------------------------------------------------------------

from osmspark.spatial.autocorr import (getis_general_g, join_counts,
                                       local_morans_i)


def _lisa_np(cells):
    xs = np.array([c[2] for c in cells], dtype=float)
    n = len(cells)
    z = xs - xs.mean()
    m2 = (z ** 2).sum() / n
    pos = {(c[0], c[1]): i for i, c in enumerate(cells)}
    out = {}
    for (cx, cy), i in pos.items():
        lsum = sum(z[pos[(cx + dx, cy + dy)]]
                   for dx, dy in ((1, 0), (-1, 0), (0, 1), (0, -1))
                   if (cx + dx, cy + dy) in pos)
        out[(cx, cy)] = z[i] * lsum / m2
    return out


def test_lisa_matches_numpy(spark):
    cells = [(x, y, (x * 3 + y * 7) % 11 + 1)
             for x in range(5) for y in range(4)]
    df = spark.createDataFrame(cells, "cell_x long, cell_y long, n long")
    ref = _lisa_np(cells)
    for r in local_morans_i(df).collect():
        assert abs(r["lisa_i"] - ref[(r["cell_x"], r["cell_y"])]) < 1e-6


def test_lisa_sums_to_global_numerator(spark):
    # sum over i of dev_i*lsum_i equals the global Moran numerator,
    # so sum(lisa_i) == N * global num/den == W/1 * moran_i... pin
    # the exact integer identity instead: sum(dev*lsum)*N == num*N
    cells = [(x, y, (x * x + 2 * y) % 7 + 1)
             for x in range(4) for y in range(4)]
    df = spark.createDataFrame(cells, "cell_x long, cell_y long, n long")
    rows = local_morans_i(df).collect()
    g = morans_i(df).collect()[0]
    assert sum(r["dev"] * r["lsum"] for r in rows) == g["num"]


def test_lisa_isolated_cell_zero(spark):
    cells = [(0, 0, 5), (10, 10, 9), (10, 11, 1)]
    rows = {(r["cell_x"], r["cell_y"]): r
            for r in local_morans_i(spark.createDataFrame(
                cells, "cell_x long, cell_y long, n long")).collect()}
    r = rows[(0, 0)]
    assert r["w_i"] == 0 and r["lsum"] == 0 and r["lisa_i"] == 0.0


def test_lisa_constant_field_null(spark):
    cells = [(x, y, 4) for x in range(3) for y in range(3)]
    rows = local_morans_i(spark.createDataFrame(
        cells, "cell_x long, cell_y long, n long")).collect()
    assert all(r["lisa_i"] is None for r in rows)


# ---------------------------------------------------------------------------
# join_counts
# ---------------------------------------------------------------------------


def _jc_np(cells):
    xs = [c[2] for c in cells]
    n, s = len(cells), sum(xs)
    black = {(c[0], c[1]): (n * c[2] > s) for c in cells}
    bb = bw = ww = 0
    seen = set()
    for (cx, cy), bi in black.items():
        for dx, dy in ((1, 0), (-1, 0), (0, 1), (0, -1)):
            other = (cx + dx, cy + dy)
            if other in black and ((cx, cy), other) not in seen:
                seen.add(((cx, cy), other))
                seen.add((other, (cx, cy)))
                bj = black[other]
                if bi and bj:
                    bb += 1
                elif bi != bj:
                    bw += 1
                else:
                    ww += 1
    return bb, bw, ww


def test_join_counts_brute_force(spark):
    cells = [(x, y, (x * 5 + y * 3) % 9)
             for x in range(5) for y in range(5)]
    r = join_counts(spark.createDataFrame(
        cells, "cell_x long, cell_y long, n long")).collect()[0]
    bb, bw, ww = _jc_np(cells)
    assert (r["bb"], r["bw"], r["ww"]) == (bb, bw, ww)
    assert r["bb"] + r["bw"] + r["ww"] == r["w_pairs"] // 2


def test_join_counts_checkerboard_all_bw(spark):
    cells = [(x, y, 10 if (x + y) % 2 == 0 else 0)
             for x in range(4) for y in range(4)]
    r = join_counts(spark.createDataFrame(
        cells, "cell_x long, cell_y long, n long")).collect()[0]
    assert r["bb"] == 0 and r["ww"] == 0 and r["bw"] == 24
    assert r["n_black"] == 8


def test_join_counts_two_halves(spark):
    # left half black, right half white: exactly one BW column
    cells = [(x, y, 9 if x < 2 else 1)
             for x in range(4) for y in range(3)]
    r = join_counts(spark.createDataFrame(
        cells, "cell_x long, cell_y long, n long")).collect()[0]
    assert r["bw"] == 3
    assert r["bb"] == 7 and r["ww"] == 7


# ---------------------------------------------------------------------------
# getis_general_g
# ---------------------------------------------------------------------------


def _gg_np(cells, ring=1):
    xs = {(c[0], c[1]): c[2] for c in cells}
    num = 0
    w = 0
    for (cx, cy), xi in xs.items():
        for dx in range(-ring, ring + 1):
            for dy in range(-ring, ring + 1):
                if dx == 0 and dy == 0:
                    continue
                xj = xs.get((cx + dx, cy + dy))
                if xj is not None:
                    num += xi * xj
                    w += 1
    s = sum(xs.values())
    den = s * s - sum(v * v for v in xs.values())
    return num, den, w


def test_general_g_brute_force(spark):
    cells = [(x, y, (x * 7 + y) % 6 + 1)
             for x in range(4) for y in range(5)]
    r = getis_general_g(spark.createDataFrame(
        cells, "cell_x long, cell_y long, n long")).collect()[0]
    num, den, w = _gg_np(cells)
    assert (r["num"], r["den"], r["w_pairs"]) == (num, den, w)
    assert abs(r["general_g"] - num / den) < 1e-9


def test_general_g_hot_cluster_above_expectation(spark):
    # all mass adjacent -> G far above E[G] = W / (N(N-1))
    cells = [(0, 0, 50), (0, 1, 50)] + \
            [(x, y, 1) for x in range(5, 9) for y in range(5, 9)]
    r = getis_general_g(spark.createDataFrame(
        cells, "cell_x long, cell_y long, n long")).collect()[0]
    n, w = r["n_cells"], r["w_pairs"]
    assert r["general_g"] > w / (n * (n - 1)) * 2


def test_general_g_single_cell_null(spark):
    r = getis_general_g(spark.createDataFrame(
        [(0, 0, 5)], "cell_x long, cell_y long, n long")).collect()[0]
    assert r["general_g"] is None
