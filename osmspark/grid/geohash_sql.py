"""Geohash encode as pure Spark SQL expressions (JVM-side codegen).

The third grid family next to the hex (hexgrid_sql) and S2 (s2_sql)
encoders: standard geohash = the Morton (Z-order) interleave of the
binary subdivisions of lon (even bit positions, MSB first) and lat
(odd), emitted as base32. A geohash of ``precision`` characters carries
``5·precision`` bits — ceil(5p/2) lon bits, floor(5p/2) lat bits.

Construction (no Python, no loops over rows):

1. quantize: ``lon_q = floor((lon+180)/360 · 2^nlon)`` (clamped to the
   max cell so +180/+90 land in the last cell, like every geohash lib);
   same for lat.
2. interleave with the classic magic-number bit spread: x | x<<16 …
   masked by 0x5555… — 5 shift/or/and rounds spread 30 bits to 60, so
   the whole Morton code is ~30 integer ops in one codegen stage.
3. base32: 5-bit groups → ``substring('0123456789bcdefghjkmnpqrstuvwxyz',
   g+1, 1)``, concatenated.

The same arithmetic re-states 1:1 in DuckDB for the oracle; the
``geohash_cell_counts`` contract row pins bit-identical strings. Like
the other encoders this is scan-side work — groupBy(geohash) then
shuffles the (tiny) per-cell aggregates, never the points.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

__all__ = ["geohash_col", "geohash_counts", "geohash_kring_smooth"]

_B32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def _spread_bits(x: Column) -> Column:
    """Interleave-ready spread: bit i of x moves to bit 2i (x ≤ 30 bits).

    The standard Morton magic numbers, 64-bit flavor."""
    x = x.bitwiseOR(F.shiftleft(x, 16)).bitwiseAND(F.lit(0x0000FFFF0000FFFF))
    x = x.bitwiseOR(F.shiftleft(x, 8)).bitwiseAND(F.lit(0x00FF00FF00FF00FF))
    x = x.bitwiseOR(F.shiftleft(x, 4)).bitwiseAND(F.lit(0x0F0F0F0F0F0F0F0F))
    x = x.bitwiseOR(F.shiftleft(x, 2)).bitwiseAND(F.lit(0x3333333333333333))
    x = x.bitwiseOR(F.shiftleft(x, 1)).bitwiseAND(F.lit(0x5555555555555555))
    return x


def _check_precision(precision: int) -> tuple[int, int, int]:
    if not 1 <= precision <= 12:
        raise ValueError(f"precision must be 1..12: {precision}")
    nbits = 5 * precision
    return nbits, (nbits + 1) // 2, nbits // 2


def _gh_from_q(lon_q: Column, lat_q: Column, precision: int) -> Column:
    """Base32 geohash string from already-quantized cell coordinates."""
    nbits, _, _ = _check_precision(precision)
    # lon owns the even (MSB-first first) positions: when nbits is odd,
    # lon has one extra bit — align by spreading then shifting lon left
    morton = F.shiftleft(_spread_bits(lon_q), 1).bitwiseOR(_spread_bits(lat_q))
    # with nbits odd the lowest lon bit must land at bit 0: spread puts
    # lon bit i at 2i+1; geohash order wants lon first ⇒ for odd nbits
    # swap the roles instead
    if nbits % 2 == 1:
        morton = _spread_bits(lon_q).bitwiseOR(F.shiftleft(_spread_bits(lat_q), 1))
    return _gh_from_morton(morton, precision)


def geohash_col(lat: Column, lon: Column, precision: int = 7) -> Column:
    """Base32 geohash string of ``precision`` chars, pure SQL."""
    nbits, nlon, nlat = _check_precision(precision)
    lon_q = F.least(F.lit((1 << nlon) - 1),
                    F.floor((lon + F.lit(180.0)) / F.lit(360.0)
                            * F.lit(float(1 << nlon))).cast("long"))
    lat_q = F.least(F.lit((1 << nlat) - 1),
                    F.floor((lat + F.lit(90.0)) / F.lit(180.0)
                            * F.lit(float(1 << nlat))).cast("long"))
    lon_q = F.greatest(F.lit(0), lon_q)
    lat_q = F.greatest(F.lit(0), lat_q)
    return _gh_from_q(lon_q, lat_q, precision)


def _morton_from_gh(gh: Column, precision: int) -> Column:
    """Raw 5·precision-bit Morton code from a geohash string."""
    vals = [
        F.position(F.substring(gh, i + 1, 1), F.lit(_B32)).cast("long")
        - F.lit(1)
        for i in range(precision)]
    morton = vals[0]
    for i in range(1, precision):
        morton = F.shiftleft(morton, 5).bitwiseOR(vals[i])
    return morton


def _gh_from_morton(m: Column, precision: int) -> Column:
    """Base32 geohash string from a raw Morton code column."""
    chars = [
        F.substring(
            F.lit(_B32),
            (F.shiftrightunsigned(m, (precision - 1 - i) * 5)
             .bitwiseAND(F.lit(31)) + F.lit(1)).cast("int"), 1)
        for i in range(precision)]
    return F.concat(*chars)


def _axis_masks(precision: int) -> tuple[int, int, int, int]:
    """(lon_mask, lat_mask, lon_lsb, lat_lsb) of the Morton bit planes.

    Odd nbits (encode ``spread(lon) | spread(lat)<<1``): lon owns the
    even positions; even nbits (``spread(lon)<<1 | spread(lat)``): lon
    owns the odd positions. The lsb is the weight of the axis' lowest
    bit — the increment unit for Morton-space stepping."""
    nbits, _, _ = _check_precision(precision)
    window = (1 << nbits) - 1
    even_plane = 0x5555555555555555 & window
    odd_plane = 0xAAAAAAAAAAAAAAAA & window
    if nbits % 2 == 1:
        return even_plane, odd_plane, 1, 2
    return odd_plane, even_plane, 2, 1


def _axis_step(m: Column, axis_mask: int, other_mask: int, lsb: int,
               delta: int) -> Column:
    """This-axis bits of ``m`` stepped by ``delta`` ∈ {-1, 0, +1}, in
    Morton space — the classic masked add/subtract: fill the other
    axis' bits with ones so the +lsb carry ripples across them (or rely
    on borrow rippling through their zeros for -lsb), then mask back.
    Overflow past the top bit wraps to 0 (and 0 - lsb wraps to max) —
    exactly mod-2^nbits_axis arithmetic, which is the antimeridian wrap
    for lon; lat callers must range-check separately."""
    part = m.bitwiseAND(F.lit(axis_mask))
    if delta == 0:
        return part
    if delta == 1:
        return (part.bitwiseOR(F.lit(other_mask)) + F.lit(lsb)) \
            .bitwiseAND(F.lit(axis_mask))
    return (part - F.lit(lsb)).bitwiseAND(F.lit(axis_mask))


def _morton_neighbor_cands(m: Column, precision: int,
                           include_self: bool) -> list[Column]:
    """≤9 neighbor Morton codes as ``when(valid, code)`` columns.

    Stepping happens directly on the interleaved code (never
    compact→±1→re-spread: that round-trip duplicates the bit-plane
    subtrees ~2000× per neighbor and melts Catalyst — the same
    multi-reference blowup s2_sql.py documents). Longitude wraps mod
    2^nlon for free (carry escapes the mask); latitude steps are gated
    on the original code's lat plane being not-all-ones (+1) /
    not-all-zeros (-1), so pole rows emit fewer entries."""
    lon_mask, lat_mask, lon_lsb, lat_lsb = _axis_masks(precision)
    lat_plane = m.bitwiseAND(F.lit(lat_mask))
    cands = []
    for dx in (-1, 0, 1):
        lon_part = _axis_step(m, lon_mask, lat_mask, lon_lsb, dx)
        for dy in (-1, 0, 1):
            if not include_self and (dx, dy) == (0, 0):
                continue
            lat_part = _axis_step(m, lat_mask, lon_mask, lat_lsb, dy)
            nb = lon_part.bitwiseOR(lat_part)
            if dy == 1:
                nb = F.when(lat_plane != F.lit(lat_mask), nb)
            elif dy == -1:
                nb = F.when(lat_plane != F.lit(0), nb)
            cands.append(nb)
    return cands


def geohash_kring_smooth(cells: DataFrame, precision: int,
                         cell_col: str = "geohash",
                         value_col: str = "n_points") -> DataFrame:
    """Focal (3×3 k-ring) sum over a geohash tile layer.

    Scatter formulation: every cell adds its value to itself and its ≤8
    neighbors, then one groupBy reduces per target cell — identical to
    the gather (sum my neighborhood) because the delta set is symmetric
    and pole-clipped targets mirror pole-missing sources. Runs on the
    post-aggregation TILE table (cells, not points): the explode is 9×
    a tiny input and the single shuffle moves per-cell partials only,
    so at planet scale the cost is O(cells), independent of point count.
    The scatter/shuffle key is the raw Morton *integer* (8 bytes, int
    hash), not the base32 string — the string is re-encoded once per
    OUTPUT cell after the aggregation, so the 9× fan-out never carries
    or builds strings."""
    m = _morton_from_gh(F.col(cell_col), precision)
    scat = (cells
            .select(F.explode(F.array(
                *_morton_neighbor_cands(m, precision, include_self=True)))
                .alias("_m"), F.col(value_col))
            .where(F.col("_m").isNotNull()))
    agg = scat.groupBy("_m").agg(F.sum(value_col).alias("n_smooth"))
    return agg.select(_gh_from_morton(F.col("_m"), precision)
                      .alias(cell_col), "n_smooth")


def geohash_counts(df: DataFrame, precision: int = 7,
                   lat_col: str = "lat", lon_col: str = "lon") -> DataFrame:
    """Per-geohash point counts — scan-side encode, aggregate shuffle."""
    return (df.withColumn("geohash",
                          geohash_col(F.col(lat_col), F.col(lon_col),
                                      precision))
            .groupBy("geohash")
            .agg(F.count(F.lit(1)).alias("n_points")))
