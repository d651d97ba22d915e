"""regrid_cells: Fraction-exact Python oracle, conservation bounds,
refinement identity, negative-index correctness, bounded-explode plan."""

from __future__ import annotations

from collections import defaultdict

import pytest

from osmspark.spatial.mapalgebra import regrid_cells

CELLS = [(-3, -2, 70), (-1, 0, 11), (0, 0, 500), (0, 1, 9),
         (2, -1, 1000), (3, 3, 1)]


def _oracle(src_deg, dst_deg):
    s = round(src_deg * 1e6)
    d = round(dst_deg * 1e6)
    num = defaultdict(int)
    for sx, sy, v in CELLS:
        tx0, tx1 = (sx * s) // d, ((sx + 1) * s - 1) // d
        ty0, ty1 = (sy * s) // d, ((sy + 1) * s - 1) // d
        for tx in range(tx0, tx1 + 1):
            for ty in range(ty0, ty1 + 1):
                ox = min((sx + 1) * s, (tx + 1) * d) \
                    - max(sx * s, tx * d)
                oy = min((sy + 1) * s, (ty + 1) * d) \
                    - max(sy * s, ty * d)
                num[(tx, ty)] += v * ox * oy
    return {k: n // (s * s) for k, n in num.items()}


def _run(spark, src_deg, dst_deg):
    df = spark.createDataFrame(CELLS, "cell_x long, cell_y long, n long")
    return {(int(r.cell_x), int(r.cell_y)): int(r.n)
            for r in regrid_cells(df, src_deg, dst_deg).collect()}


@pytest.mark.parametrize("src,dst", [(0.5, 0.8), (2.0, 0.7), (1.0, 1.0),
                                     (0.5, 1.0), (1.0, 0.25)])
def test_matches_fraction_oracle(spark, src, dst):
    assert _run(spark, src, dst) == _oracle(src, dst)


def test_mass_conservation_bounds(spark):
    total_in = sum(v for _, _, v in CELLS)
    out = _run(spark, 0.5, 0.8)
    assert sum(out.values()) <= total_in
    # loss < 1 unit per output cell (single floor at the end)
    assert total_in - sum(out.values()) < len(out) + 1


def test_refining_grid_is_exact(spark):
    # src pitch divides dst pitch → every source cell sits wholly
    # inside one target cell → zero floor loss, plain block-sum
    out = _run(spark, 0.5, 1.0)
    exp = defaultdict(int)
    for sx, sy, v in CELLS:
        exp[(sx // 2, sy // 2)] += v
    assert out == {k: v for k, v in exp.items()}
    assert sum(out.values()) == sum(v for _, _, v in CELLS)


def test_identity_grid(spark):
    assert _run(spark, 1.0, 1.0) == {(sx, sy): v for sx, sy, v in CELLS}


def test_rejects_inexact_pitch(spark):
    df = spark.createDataFrame(CELLS, "cell_x long, cell_y long, n long")
    with pytest.raises(ValueError):
        regrid_cells(df, 1e-8, 1.0)


def test_bounded_plan(spark):
    df = spark.createDataFrame(CELLS, "cell_x long, cell_y long, n long")
    plan = (regrid_cells(df, 2.0, 0.7)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange") <= 2          # one census shuffle
