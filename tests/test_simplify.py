"""Douglas–Peucker: pinned shapes, recursive-reference parity, tie and
tolerance-boundary semantics."""

from __future__ import annotations

import numpy as np
import pandas as pd

from osmspark.spatial.simplify import _dp_keep, simplify_polylines


def _ref_dp(lats, lons, tol):
    """Plain recursive reference (independent of the stack version)."""
    n = len(lats)
    keep = set([0, n - 1])

    def rec(lo, hi):
        if hi - lo < 2:
            return
        x1, y1, x2, y2 = lons[lo], lats[lo], lons[hi], lats[hi]
        dx, dy = x2 - x1, y2 - y1
        len2 = dx * dx + dy * dy
        best_i, best_d, thresh = -1, -1.0, tol * tol * (len2 or 1.0)
        for i in range(lo + 1, hi):
            if len2 == 0.0:
                d = (lons[i] - x1) ** 2 + (lats[i] - y1) ** 2
            else:
                cr = dx * (lats[i] - y1) - dy * (lons[i] - x1)
                d = cr * cr
            if d > best_d:
                best_i, best_d = i, d
        if best_d > thresh:
            keep.add(best_i)
            rec(lo, best_i)
            rec(best_i, hi)

    rec(0, n - 1)
    return sorted(keep)


def test_straight_line_collapses():
    la = np.array([0.0, 1.0, 2.0, 3.0])
    lo = np.array([0.0, 1.0, 2.0, 3.0])
    assert np.flatnonzero(_dp_keep(la, lo, 1e-12)).tolist() == [0, 3]


def test_spike_kept():
    la = np.array([0.0, 0.0, 5.0, 0.0, 0.0])
    lo = np.array([0.0, 1.0, 2.0, 3.0, 4.0])
    assert np.flatnonzero(_dp_keep(la, lo, 1.0)).tolist() == [0, 2, 4]


def test_boundary_strictly_greater():
    # interior point EXACTLY tolerance away -> dropped (strict >)
    la = np.array([0.0, 1.0, 0.0])
    lo = np.array([0.0, 1.0, 2.0])
    assert np.flatnonzero(_dp_keep(la, lo, 1.0)).tolist() == [0, 2]
    assert np.flatnonzero(_dp_keep(la, lo, 0.999999)).tolist() == [0, 1, 2]


def test_tie_breaks_lowest_index():
    la = np.array([0.0, 2.0, -2.0, 2.0, 0.0])
    lo = np.array([0.0, 1.0, 2.0, 3.0, 4.0])
    kept = np.flatnonzero(_dp_keep(la, lo, 1.0)).tolist()
    exp = _ref_dp(la, lo, 1.0)
    assert kept == exp and 1 in kept


def test_matches_recursive_reference_random():
    rng = np.random.default_rng(21)
    for _ in range(50):
        n = int(rng.integers(2, 60))
        la = rng.uniform(-10, 10, n)
        lo = rng.uniform(-10, 10, n)
        tol = float(rng.uniform(0.1, 5.0))
        got = np.flatnonzero(_dp_keep(la, lo, tol * tol)).tolist()
        assert got == _ref_dp(la, lo, tol)


def test_spark_rows(spark):
    pdf = pd.DataFrame({
        "way_id": [1, 2],
        "lats": [[0.0, 0.0, 5.0, 0.0, 0.0], [0.0, 1.0, 2.0]],
        "lons": [[0.0, 1.0, 2.0, 3.0, 4.0], [0.0, 1.0, 2.0]]})
    out = (simplify_polylines(spark.createDataFrame(pdf), 1.0)
           .toPandas().sort_values(["way_id", "pos"]))
    assert out[out.way_id == 1]["pos"].tolist() == [0, 2, 4]
    assert out[out.way_id == 2]["pos"].tolist() == [0, 2]  # collinear
    assert out[out.way_id == 1]["lat"].tolist() == [0.0, 5.0, 0.0]
