"""Hexagonal grid encoder with H3-compatible semantics, in pure NumPy.

The real H3 library is unavailable here (SURVEY.md §7.0/§7.4), so this is a
documented from-scratch hex grid that preserves the H3 *semantics* the
north rule needs — hexagonal cells, multi-resolution hierarchy with ~1/7
area scaling per resolution (aperture 7, like H3), k-ring neighborhoods,
and stable 64-bit cell ids — without claiming bit-compatibility with H3
ids. Geometry: pointy-top axial coordinates (q, r) on an equirectangular
(lon, lat) plane; deterministic and trivially invertible, which is what the
oracle/parity tests pin.

Cell id layout (64 bits): [4 bits res][30 bits q+OFFSET][30 bits r+OFFSET].

Resolution scale: edge length in degrees = BASE_EDGE_DEG / sqrt(7)**res,
so res 7/8/9 are ~0.01°/0.004°/0.0014° — comparable ground footprint to H3
res 7-9 at mid-latitudes.
"""

from __future__ import annotations

import numpy as np

MAX_RES = 15
BASE_EDGE_DEG = 10.0
_OFFSET = 1 << 29
_SQRT3 = np.sqrt(3.0)
_APERTURE = np.sqrt(7.0)

__all__ = ["edge_deg", "cell_id", "cell_to_center", "k_ring",
           "resolution_of", "qr_of", "pack"]


def edge_deg(res: int) -> float:
    return BASE_EDGE_DEG / _APERTURE ** res


def pack(res: int | np.ndarray, q: np.ndarray, r: np.ndarray) -> np.ndarray:
    return ((np.int64(res) << np.int64(60))
            | ((q.astype(np.int64) + _OFFSET) << np.int64(30))
            | (r.astype(np.int64) + _OFFSET))


def resolution_of(ids: np.ndarray) -> np.ndarray:
    return (np.asarray(ids, dtype=np.int64) >> 60) & 0xF


def qr_of(ids: np.ndarray):
    ids = np.asarray(ids, dtype=np.int64)
    q = ((ids >> 30) & ((1 << 30) - 1)) - _OFFSET
    r = (ids & ((1 << 30) - 1)) - _OFFSET
    return q, r


def _latlon_to_axial(lat: np.ndarray, lon: np.ndarray, res: int):
    """Fractional axial coords (pointy-top): x=lon, y=lat in degrees."""
    size = edge_deg(res)
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    q = (_SQRT3 / 3.0 * lon - lat / 3.0) / size
    r = (2.0 / 3.0 * lat) / size
    return q, r


def _cube_round(qf: np.ndarray, rf: np.ndarray):
    """Round fractional axial → nearest hex (standard cube rounding)."""
    sf = -qf - rf
    q = np.round(qf)
    r = np.round(rf)
    s = np.round(sf)
    dq = np.abs(q - qf)
    dr = np.abs(r - rf)
    ds = np.abs(s - sf)
    fix_q = (dq > dr) & (dq > ds)
    fix_r = ~fix_q & (dr > ds)
    q = np.where(fix_q, -r - s, q)
    r = np.where(fix_r, -q - s, r)
    return q.astype(np.int64), r.astype(np.int64)


def cell_id(lat, lon, res: int) -> np.ndarray:
    """(lat, lon) degrees → hex cell id at ``res``, int64, vectorized."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}]")
    qf, rf = _latlon_to_axial(lat, lon, res)
    q, r = _cube_round(qf, rf)
    return pack(res, q, r)


def cell_to_center(ids: np.ndarray):
    """Cell id → (lat, lon) degrees of the hex center."""
    ids = np.asarray(ids, dtype=np.int64)
    res = resolution_of(ids)
    q, r = qr_of(ids)
    size = BASE_EDGE_DEG / _APERTURE ** res.astype(np.float64)
    lon = size * _SQRT3 * (q.astype(np.float64) + r.astype(np.float64) / 2.0)
    lat = size * 1.5 * r.astype(np.float64)
    return lat, lon


def k_ring(ids: np.ndarray, k: int) -> np.ndarray:
    """All cells within hex-distance k → (n, ring_size) int64 matrix.

    ring_size = 3k(k+1)+1 (the standard hex-ball size). Row order is
    deterministic: spiral by (dq, dr) lexicographic.
    """
    ids = np.asarray(ids, dtype=np.int64)
    res = resolution_of(ids)
    q, r = qr_of(ids)
    dq_list, dr_list = [], []
    for dq in range(-k, k + 1):
        for dr in range(max(-k, -dq - k), min(k, -dq + k) + 1):
            dq_list.append(dq)
            dr_list.append(dr)
    dq_arr = np.array(dq_list, dtype=np.int64)
    dr_arr = np.array(dr_list, dtype=np.int64)
    return pack(res[:, None], q[:, None] + dq_arr[None, :],
                r[:, None] + dr_arr[None, :])
