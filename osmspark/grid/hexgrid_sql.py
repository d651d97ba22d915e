"""Hex-grid encode as pure Spark SQL expressions (JVM-side, codegen).

Bit-identical to :mod:`osmspark.grid.hexgrid` (``cell_id``) but expressed as
Column expressions so the hottest path of the engine — encoding 10^12
points to cells for tiling/PIP/kNN — runs inside whole-stage codegen with
NO Python worker at all. The arithmetic mirrors the NumPy kernel
operation-for-operation (same constants, same order, ``rint`` == half-even
``np.round``), so ids match bit-for-bit; a property test pins that.

Why this matters at scale: a pandas-UDF encode costs an Arrow hop per
batch and a Python worker per core; two chained UDFs in one stage fuse
into two workers per task (CPU oversubscription). The expression form
removes both problems and lets Catalyst push the encode through joins.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from . import hexgrid

__all__ = ["hex_qr_cols", "hex_pack_col", "hex_cell_col", "hex_center_cols"]

_OFFSET = hexgrid._OFFSET
_SQRT3_3 = float(hexgrid._SQRT3) / 3.0  # identical double to the numpy constant


def _rint(c: Column) -> Column:
    # java.lang.Math.rint == IEEE round-half-even == np.round
    return F.call_function("rint", c)


def hex_qr_cols(lat: Column, lon: Column, res: int) -> tuple[Column, Column]:
    """Cube-rounded integral axial (q, r) as double Columns.

    Mirrors hexgrid._latlon_to_axial + _cube_round exactly.
    """
    size = hexgrid.edge_deg(res)
    qf = (F.lit(_SQRT3_3) * lon - lat / F.lit(3.0)) / F.lit(size)
    rf = (F.lit(2.0 / 3.0) * lat) / F.lit(size)
    sf = -qf - rf
    q = _rint(qf)
    r = _rint(rf)
    s = _rint(sf)
    dq = F.abs(q - qf)
    dr = F.abs(r - rf)
    ds = F.abs(s - sf)
    fix_q = (dq > dr) & (dq > ds)
    fix_r = (~fix_q) & (dr > ds)
    # when fix_r fires, fix_q is false so q is unchanged — safe to use q
    q2 = F.when(fix_q, -r - s).otherwise(q)
    r2 = F.when(fix_r, -q - s).otherwise(r)
    return q2, r2


def hex_pack_col(res: int, q: Column, r: Column) -> Column:
    """[4b res][30b q+OFF][30b r+OFF] — addition form of the bit-pack
    (fields are disjoint, so + == | and stays codegen-friendly)."""
    # match numpy's int64 wrap-around for res >= 8 (res<<60 overflows)
    res_bits = (int(res) << 60) & ((1 << 64) - 1)
    if res_bits >= 1 << 63:
        res_bits -= 1 << 64
    return (F.lit(res_bits)
            + (q.cast("long") + F.lit(_OFFSET)) * F.lit(1 << 30)
            + (r.cast("long") + F.lit(_OFFSET)))


def hex_cell_col(lat: Column, lon: Column, res: int) -> Column:
    """(lat, lon) degrees → hex cell id, pure SQL. == hexgrid.cell_id."""
    q, r = hex_qr_cols(lat, lon, res)
    return hex_pack_col(res, q, r)


def hex_center_cols(cell: Column) -> tuple[Column, Column]:
    """Cell id → (lat, lon) hex-center Columns — mirrors
    hexgrid.cell_to_center op-for-op: per-res edge sizes resolve through
    a literal CASE chain carrying the exact ``edge_deg`` float64 values
    (never a runtime pow(), which can differ from NumPy in the last
    ulp), so centers are bit-identical."""
    res = F.shiftright(cell, 60).bitwiseAND(F.lit(15))
    q = (F.shiftright(cell, 30).bitwiseAND(F.lit((1 << 30) - 1))
         - F.lit(_OFFSET)).cast("double")
    r = (cell.bitwiseAND(F.lit((1 << 30) - 1))
         - F.lit(_OFFSET)).cast("double")
    size = None
    for rv in range(hexgrid.MAX_RES + 1):
        branch = F.lit(hexgrid.edge_deg(rv))
        size = (F.when(res == rv, branch) if size is None
                else size.when(res == rv, branch))
    lon = size * F.lit(float(hexgrid._SQRT3)) * (q + r / F.lit(2.0))
    lat = size * F.lit(1.5) * r
    return lat, lon
