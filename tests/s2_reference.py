"""S2 cell ids in pure NumPy — the test oracle for the SQL encoder.

A from-scratch vectorized implementation of the published S2 design
(sphere → cube-face projection → quadratic ST transform → leaf (i,j) →
Hilbert-curve position → 64-bit cell id); no s2 library exists in this
environment. ``osmspark.grid.s2_sql`` must match ``cell_id`` and
``parent`` bit for bit (tests/test_grid.py), and this module is itself
anchored by structural invariants (round-trip through cell centers,
hierarchical containment, Hilbert adjacency) plus pinned regression ids.

Cell id layout (standard S2): 3 face bits, 2·level position bits, one
trailing '1' sentinel, zero-padded to 64 bits. MAX_LEVEL = 30.
"""

from __future__ import annotations

import numpy as np

MAX_LEVEL = 30

# Hilbert sub-cell traversal tables (public S2 constants).
# orientation bits: 1 = swap i/j, 2 = invert both.
_IJ_TO_POS = np.array([
    [0, 1, 3, 2],   # canonical order
    [0, 3, 1, 2],   # swap
    [2, 3, 1, 0],   # invert
    [2, 1, 3, 0],   # swap + invert
], dtype=np.int64)
_POS_TO_IJ = np.array([
    [0, 1, 3, 2],
    [0, 2, 3, 1],
    [3, 2, 0, 1],
    [3, 1, 0, 2],
], dtype=np.int64)
_POS_TO_ORIENTATION = np.array([1, 0, 0, 3], dtype=np.int64)  # swap, 0, 0, swap|invert
_SWAP_MASK = 1


def latlng_to_xyz(lat_deg: np.ndarray, lng_deg: np.ndarray):
    phi = np.radians(np.asarray(lat_deg, dtype=np.float64))
    theta = np.radians(np.asarray(lng_deg, dtype=np.float64))
    cos_phi = np.cos(phi)
    return np.cos(theta) * cos_phi, np.sin(theta) * cos_phi, np.sin(phi)


def xyz_to_face_uv(x, y, z):
    """Largest-|component| face selection + standard per-face (u,v)."""
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    face = np.where(ax >= ay,
                    np.where(ax >= az, 0, 2),
                    np.where(ay >= az, 1, 2)).astype(np.int64)
    face = np.where((face == 0) & (x < 0), 3, face)
    face = np.where((face == 1) & (y < 0), 4, face)
    face = np.where((face == 2) & (z < 0), 5, face)
    u = np.empty_like(x)
    v = np.empty_like(x)
    m = face == 0
    u[m] = y[m] / x[m]; v[m] = z[m] / x[m]
    m = face == 1
    u[m] = -x[m] / y[m]; v[m] = z[m] / y[m]
    m = face == 2
    u[m] = -x[m] / z[m]; v[m] = -y[m] / z[m]
    m = face == 3
    u[m] = z[m] / x[m]; v[m] = y[m] / x[m]
    m = face == 4
    u[m] = z[m] / y[m]; v[m] = -x[m] / y[m]
    m = face == 5
    u[m] = -y[m] / z[m]; v[m] = -x[m] / z[m]
    return face, u, v


def _uv_to_st(u: np.ndarray) -> np.ndarray:
    """S2_QUADRATIC_PROJECTION (the library default)."""
    # np.maximum guards: np.where evaluates both branches
    return np.where(u >= 0.0,
                    0.5 * np.sqrt(np.maximum(1.0 + 3.0 * u, 0.0)),
                    1.0 - 0.5 * np.sqrt(np.maximum(1.0 - 3.0 * u, 0.0)))


def _st_to_uv(s: np.ndarray) -> np.ndarray:
    return np.where(s >= 0.5,
                    (1.0 / 3.0) * (4.0 * s * s - 1.0),
                    (1.0 / 3.0) * (1.0 - 4.0 * (1.0 - s) * (1.0 - s)))


def _st_to_ij(s: np.ndarray) -> np.ndarray:
    return np.clip((np.floor(s * (1 << MAX_LEVEL))).astype(np.int64),
                   0, (1 << MAX_LEVEL) - 1)


def _face_ij_to_pos(face: np.ndarray, i: np.ndarray, j: np.ndarray) -> np.ndarray:
    """Hilbert curve position (60 bits) of leaf (i,j) on a face, vectorized
    bit-by-bit (30 table-lookup passes over the whole array)."""
    orientation = face & _SWAP_MASK
    pos = np.zeros(face.shape, dtype=np.int64)
    ij_to_pos_flat = _IJ_TO_POS.ravel()
    for k in range(MAX_LEVEL - 1, -1, -1):
        i_bit = (i >> k) & 1
        j_bit = (j >> k) & 1
        ij = (i_bit << 1) | j_bit
        sub_pos = ij_to_pos_flat[orientation * 4 + ij]
        pos = (pos << 2) | sub_pos
        orientation ^= _POS_TO_ORIENTATION[sub_pos]
    return pos


def _pos_to_face_ij(face: np.ndarray, pos: np.ndarray):
    orientation = face & _SWAP_MASK
    i = np.zeros(pos.shape, dtype=np.int64)
    j = np.zeros(pos.shape, dtype=np.int64)
    pos_to_ij_flat = _POS_TO_IJ.ravel()
    for k in range(MAX_LEVEL - 1, -1, -1):
        sub_pos = (pos >> (2 * k)) & 3
        ij = pos_to_ij_flat[orientation * 4 + sub_pos]
        i = (i << 1) | (ij >> 1)
        j = (j << 1) | (ij & 1)
        orientation ^= _POS_TO_ORIENTATION[sub_pos]
    return i, j


def leaf_cell_id(lat_deg, lng_deg) -> np.ndarray:
    """(lat,lng) degrees → leaf (level-30) S2 cell ids, uint64."""
    x, y, z = latlng_to_xyz(lat_deg, lng_deg)
    face, u, v = xyz_to_face_uv(x, y, z)
    i = _st_to_ij(_uv_to_st(u))
    j = _st_to_ij(_uv_to_st(v))
    pos = _face_ij_to_pos(face, i, j)
    return ((face.astype(np.uint64) << 61)
            | (pos.astype(np.uint64) << 1)
            | np.uint64(1))


def cell_id(lat_deg, lng_deg, level: int) -> np.ndarray:
    """(lat,lng) → S2 cell id at ``level`` (0..30), uint64, vectorized."""
    if not 0 <= level <= MAX_LEVEL:
        raise ValueError(f"level must be in [0, {MAX_LEVEL}]")
    return parent(leaf_cell_id(lat_deg, lng_deg), level)


def lsb_for_level(level: int) -> int:
    return 1 << (2 * (MAX_LEVEL - level))


def parent(ids: np.ndarray, level: int) -> np.ndarray:
    """Ancestor at ``level`` (standard lsb arithmetic)."""
    ids = np.asarray(ids, dtype=np.uint64)
    lsb = np.uint64(lsb_for_level(level))
    return (ids & ~(lsb - np.uint64(1))) | lsb


def level_of(ids: np.ndarray) -> np.ndarray:
    """Level from the sentinel bit position."""
    ids = np.asarray(ids, dtype=np.uint64)
    lsb = ids & (~ids + np.uint64(1))  # lowest set bit
    # log2 of a power of two ≤ 2^63 is exact in float64
    return (MAX_LEVEL - (np.log2(lsb.astype(np.float64)) / 2)).astype(np.int64)


def cell_center_latlng(ids: np.ndarray):
    """Cell id (any level) → (lat_deg, lng_deg) of the cell center."""
    ids = np.asarray(ids, dtype=np.uint64)
    face = (ids >> 61).astype(np.int64)
    lsb = (ids & (~ids + np.uint64(1))).astype(np.uint64)
    # center leaf position: replace sentinel with '10…0' (true center of range)
    pos = ((ids & np.uint64((1 << 61) - 1)) >> 1).astype(np.int64)
    i, j = _pos_to_face_ij(face, pos)
    # i,j here are exact for leaf ids; for coarser ids the sentinel bit makes
    # (i,j) land at the center sub-cell boundary — offset by half a leaf.
    s = (i.astype(np.float64) + 0.5) / (1 << MAX_LEVEL)
    t = (j.astype(np.float64) + 0.5) / (1 << MAX_LEVEL)
    u = _st_to_uv(s)
    v = _st_to_uv(t)
    x = np.empty_like(u); y = np.empty_like(u); z = np.empty_like(u)
    one = np.ones_like(u)
    m = face == 0
    x[m], y[m], z[m] = one[m], u[m], v[m]
    m = face == 1
    x[m], y[m], z[m] = -u[m], one[m], v[m]
    m = face == 2
    x[m], y[m], z[m] = -u[m], -v[m], one[m]
    m = face == 3
    x[m], y[m], z[m] = -one[m], -v[m], -u[m]
    m = face == 4
    x[m], y[m], z[m] = v[m], -one[m], -u[m]
    m = face == 5
    x[m], y[m], z[m] = v[m], u[m], -one[m]
    norm = np.sqrt(x * x + y * y + z * z)
    lat = np.degrees(np.arcsin(np.clip(z / norm, -1, 1)))
    lng = np.degrees(np.arctan2(y, x))
    return lat, lng


def range_min_max(ids: np.ndarray):
    """[range_min, range_max] leaf-id range covered by each cell."""
    ids = np.asarray(ids, dtype=np.uint64)
    lsb = ids & (~ids + np.uint64(1))
    return ids - lsb + np.uint64(1), ids + lsb - np.uint64(1)
