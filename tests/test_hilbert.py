"""with_hilbert_key: Python xy2d oracle, Hilbert adjacency (the
locality property Z-order lacks), staged-plan sanity."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from osmspark.spatial.layout import hilbert_level_sql, with_hilbert_key


def xy2d(order: int, x: int, y: int) -> int:
    d = 0
    s = 1 << (order - 1)
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_matches_reference_walk(spark):
    random.seed(7)
    pts = [(i, random.uniform(-89.9, 89.9), random.uniform(-179.9, 179.9))
           for i in range(500)]
    df = spark.createDataFrame(pts, "id long, lat double, lon double")
    for r in with_hilbert_key(df, order=16).collect():
        lat_u = round(r.lat * 1e7) + (1 << 31)
        lon_u = round(r.lon * 1e7) + (1 << 31)
        assert r.hkey == xy2d(16, lat_u >> 16, lon_u >> 16)


def test_level_sql_runs_identically_in_duckdb(spark):
    # the SAME generated text drives both engines — run one level in
    # DuckDB over every (x, y) of a 2-bit grid and compare to Spark
    import duckdb
    import pandas as pd
    x2, y2, d2 = hilbert_level_sql(2, "x", "y", "d")
    cells = [(x, y, 0) for x in range(4) for y in range(4)]
    pdf = pd.DataFrame(cells, columns=["x", "y", "d"])
    duck = duckdb.connect()
    duck.register("t", pdf)
    o = duck.execute(
        f"SELECT x, y, {x2} AS x2, {y2} AS y2, {d2} AS d2 "
        f"FROM t ORDER BY x, y").fetchdf()
    sdf = spark.createDataFrame(pdf)
    s = (sdf.select("x", "y", F.expr(x2).alias("x2"),
                    F.expr(y2).alias("y2"), F.expr(d2).alias("d2"))
         .orderBy("x", "y").toPandas())
    assert (s.astype("int64").to_numpy()
            == o.astype("int64").to_numpy()).all()


def test_full_curve_is_hamiltonian_order3(spark):
    # all 64 cells of an order-3 grid: keys are a permutation of
    # 0..63 and consecutive keys are rook-adjacent cells — the
    # locality guarantee that separates Hilbert from the Z-curve
    order, n = 3, 8
    cell_deg = (1 << (32 - order)) / 1e7
    pts = [(x * n + y,
            (x + 0.5) * cell_deg - 214.7483648,
            (y + 0.5) * cell_deg - 214.7483648)
           for x in range(n) for y in range(n)]
    df = spark.createDataFrame(pts, "id long, lat double, lon double")
    rows = with_hilbert_key(df, order=order).collect()
    bykey = {r.hkey: (r.id // n, r.id % n) for r in rows}
    assert sorted(bykey) == list(range(n * n))
    for k in range(n * n - 1):
        (x1, y1), (x2, y2) = bykey[k], bykey[k + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1


def test_no_python_no_shuffle(spark):
    df = spark.createDataFrame([(1, 10.0, 20.0)],
                               "id long, lat double, lon double")
    plan = (with_hilbert_key(df)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan
    assert "Python" not in plan
    assert "BatchEvalPython" not in plan
