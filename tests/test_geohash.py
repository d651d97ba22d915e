"""geohash_sql: parity with a from-scratch bisection reference encoder,
the canonical published example, and boundary clamps."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from osmspark.grid.geohash_sql import (
    geohash_col,
    geohash_counts,
    geohash_kring_smooth,
)

_B32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def _ref_geohash(lat: float, lon: float, precision: int) -> str:
    """Classic interval-bisection geohash (independent of the SQL path)."""
    lat_lo, lat_hi = -90.0, 90.0
    lon_lo, lon_hi = -180.0, 180.0
    bits = []
    even = True
    while len(bits) < 5 * precision:
        if even:
            mid = (lon_lo + lon_hi) / 2
            bits.append(lon >= mid)
            lon_lo, lon_hi = (mid, lon_hi) if lon >= mid else (lon_lo, mid)
        else:
            mid = (lat_lo + lat_hi) / 2
            bits.append(lat >= mid)
            lat_lo, lat_hi = (mid, lat_hi) if lat >= mid else (lat_lo, mid)
        even = not even
    out = []
    for i in range(precision):
        g = 0
        for b in bits[i * 5:(i + 1) * 5]:
            g = (g << 1) | int(b)
        out.append(_B32[g])
    return "".join(out)


@pytest.mark.parametrize("precision", [1, 5, 7, 12])
def test_matches_bisection_reference(spark, precision):
    rng = np.random.default_rng(13)
    pdf = pd.DataFrame({"lat": rng.uniform(-89.9, 89.9, 300),
                        "lon": rng.uniform(-179.9, 179.9, 300)})
    got = (spark.createDataFrame(pdf)
           .select(geohash_col(F.col("lat"), F.col("lon"), precision)
                   .alias("gh")).toPandas()["gh"])
    exp = [_ref_geohash(la, lo, precision)
           for la, lo in zip(pdf["lat"], pdf["lon"])]
    assert got.tolist() == exp


def test_published_example(spark):
    df = spark.createDataFrame(pd.DataFrame(
        {"lat": [57.64911], "lon": [10.40744]}))
    got = df.select(geohash_col(F.col("lat"), F.col("lon"), 11)
                    .alias("gh")).collect()[0].gh
    assert got == "u4pruydqqvj"  # the canonical wikipedia example


def test_boundary_clamps(spark):
    df = spark.createDataFrame(pd.DataFrame(
        {"lat": [90.0, -90.0], "lon": [180.0, -180.0]}))
    out = df.select(geohash_col(F.col("lat"), F.col("lon"), 4)
                    .alias("gh")).toPandas()["gh"]
    assert out[0] == _ref_geohash(89.999999999, 179.999999999, 4)
    assert out[1] == _ref_geohash(-90.0, -180.0, 4)


def test_counts_partition_points(spark):
    rng = np.random.default_rng(14)
    pdf = pd.DataFrame({"lat": rng.uniform(-80, 80, 2000),
                        "lon": rng.uniform(-170, 170, 2000)})
    out = geohash_counts(spark.createDataFrame(pdf), 3).toPandas()
    assert out["n_points"].sum() == 2000
    assert (out["geohash"].str.len() == 3).all()


# ---------------------------------------------------------------------------
# reference decode / neighbors; k-ring smoothing
# ---------------------------------------------------------------------------

def _ref_decode(gh: str) -> tuple[float, float, float, float]:
    """Interval-bisection decode → (lon_lo, lat_lo, lon_hi, lat_hi)."""
    lat_lo, lat_hi = -90.0, 90.0
    lon_lo, lon_hi = -180.0, 180.0
    even = True
    for ch in gh:
        g = _B32.index(ch)
        for k in range(4, -1, -1):
            bit = (g >> k) & 1
            if even:
                mid = (lon_lo + lon_hi) / 2
                lon_lo, lon_hi = (mid, lon_hi) if bit else (lon_lo, mid)
            else:
                mid = (lat_lo + lat_hi) / 2
                lat_lo, lat_hi = (mid, lat_hi) if bit else (lat_lo, mid)
            even = not even
    return lon_lo, lat_lo, lon_hi, lat_hi


@pytest.mark.parametrize("precision", [2, 5, 8])
def test_encode_decode_roundtrip(spark, precision):
    """encode(center(decode(gh))) == gh for every cell present, with
    the reference bisection decode."""
    rng = np.random.default_rng(22)
    pdf = pd.DataFrame({"lat": rng.uniform(-89.9, 89.9, 200),
                        "lon": rng.uniform(-179.9, 179.9, 200)})
    ghs = [r.geohash for r in spark.createDataFrame(pdf).select(
        geohash_col(F.col("lat"), F.col("lon"), precision)
        .alias("geohash")).collect()]
    centers = []
    for gh in ghs:
        lon_lo, lat_lo, lon_hi, lat_hi = _ref_decode(gh)
        centers.append(((lat_lo + lat_hi) / 2, (lon_lo + lon_hi) / 2))
    out = spark.createDataFrame(
        pd.DataFrame(centers, columns=["lat_c", "lon_c"])).select(
        geohash_col(F.col("lat_c"), F.col("lon_c"), precision)
        .alias("gh2")).toPandas()
    assert out["gh2"].tolist() == ghs


def _ref_neighbors(gh: str, precision: int,
                   include_self: bool = False) -> list[str]:
    """Neighbor set via bisection decode → center-shift → re-encode."""
    lon_lo, lat_lo, lon_hi, lat_hi = _ref_decode(gh)
    lon_w, lat_w = lon_hi - lon_lo, lat_hi - lat_lo
    lon_c, lat_c = (lon_lo + lon_hi) / 2, (lat_lo + lat_hi) / 2
    out = []
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            if not include_self and (dx, dy) == (0, 0):
                continue
            la = lat_c + dy * lat_w
            lo = lon_c + dx * lon_w
            if not -90.0 <= la <= 90.0:
                continue  # pole row: no north/south neighbor
            if lo < -180.0:
                lo += 360.0
            elif lo >= 180.0:
                lo -= 360.0
            out.append(_ref_geohash(la, lo, precision))
    return out


def test_kring_smooth_equals_gather(spark):
    """Scatter-based focal sum == brute-force gather over neighbors."""
    rng = np.random.default_rng(24)
    pdf = pd.DataFrame({"lat": rng.uniform(-88, 88, 3000),
                        "lon": rng.uniform(-179, 179, 3000)})
    cells = geohash_counts(spark.createDataFrame(pdf), 2)
    got = {r.geohash: r.n_smooth
           for r in geohash_kring_smooth(cells, 2).collect()}
    src = {r.geohash: r.n_points for r in cells.collect()}
    # gather: for every target cell in the output, sum source values of
    # itself + its reference neighbors
    for gh, v in got.items():
        exp = src.get(gh, 0) + sum(src.get(n, 0)
                                   for n in _ref_neighbors(gh, 2))
        assert v == exp, gh
