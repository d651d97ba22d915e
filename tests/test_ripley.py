"""ripleys_k: NumPy brute-force haversine oracle, monotone ladder,
ordered-pair convention, K-hat formula."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from osmspark.spatial.ripley import ripleys_k

R = 6371008.8
RADII = [5000.0, 15000.0, 40000.0]


@pytest.fixture(scope="module")
def pts():
    rng = np.random.default_rng(11)
    n = 250
    return pd.DataFrame({
        "id": np.arange(n),
        # a dense cluster plus sparse background: K should exceed CSR
        "lat": np.where(np.arange(n) % 3 == 0,
                        45.0 + rng.uniform(0, 0.05, n),
                        44.0 + rng.uniform(0, 2.0, n)),
        "lon": np.where(np.arange(n) % 3 == 0,
                        7.0 + rng.uniform(0, 0.05, n),
                        6.0 + rng.uniform(0, 2.0, n))})


def _dist_mm_rounded(df):
    """Pairwise haversine, mm-rounded exactly as dwithin_meters_join."""
    la = np.radians(df.lat.values)[:, None]
    lb = np.radians(df.lat.values)[None, :]
    dphi = (lb - la) / 2
    dlam = (np.radians(df.lon.values)[None, :]
            - np.radians(df.lon.values)[:, None]) / 2
    hav = np.sin(dphi) ** 2 + np.cos(la) * np.cos(lb) * np.sin(dlam) ** 2
    return np.round(2 * R * np.arcsin(np.sqrt(hav)), 3)


def test_matches_brute_force(spark, pts):
    area = 1.0e10
    got = (ripleys_k(spark.createDataFrame(pts), RADII, area_m2=area)
           .toPandas().sort_values("r_m").reset_index(drop=True))
    d = _dist_mm_rounded(pts)
    np.fill_diagonal(d, np.inf)
    n = len(pts)
    for i, r in enumerate(sorted(RADII)):
        n_pairs = int((d <= r).sum())            # ordered pairs
        assert got.r_m[i] == r
        assert int(got.n_pairs[i]) == n_pairs and n_pairs > 0
        assert got.k_hat[i] == area * n_pairs / (n * n)
    # K is nondecreasing in r
    assert list(got.n_pairs) == sorted(got.n_pairs)


def test_antimeridian_pairs_counted(spark):
    """A cluster straddling ±180 — the wrap=True pass must count the
    cross-meridian pairs the plain grid misses."""
    df = pd.DataFrame({"id": [0, 1, 2, 3],
                       "lat": [10.0, 10.0, 10.0, 10.0],
                       "lon": [179.9, -179.9, 179.8, 0.0]})
    got = (ripleys_k(spark.createDataFrame(df), [50000.0], area_m2=1.0)
           .toPandas())
    d = _dist_mm_rounded(df)
    np.fill_diagonal(d, np.inf)
    exp = int((d <= 50000.0).sum())
    assert exp >= 4                      # brute force sees wrap pairs
    assert int(got.n_pairs[0]) == exp


def test_invalid_radii_rejected(spark, pts):
    sdf = spark.createDataFrame(pts)
    with pytest.raises(ValueError):
        ripleys_k(sdf, [], 1.0)
    with pytest.raises(ValueError):
        ripleys_k(sdf, [-5.0, 100.0], 1.0)
