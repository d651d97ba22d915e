"""Within-distance spatial join (ST_DWithin): all (a, b) pairs closer
than a radius, as a grid-bucketed equi-join — the big-big companion to
``knn_join`` (which broadcasts its query side).

Construction:

1. Cell size = the radius. Every point maps to one square grid cell
   ``(floor(lat/r), floor(lon/r))`` — a two-int key computed in
   whole-stage codegen.
2. The A side scatters to its 3×3 cell neighborhood
   (``lattice.scatter``, 9 rows); B keeps its single cell. Any pair
   within ``r`` differs by ≤ r in each axis, so B's cell is one of A's
   nine — the candidate set is COMPLETE, and because B owns exactly
   one cell each pair joins exactly once (no dedup pass).
3. Equi-join on the two cell ints + the exact ``dist2 <= r²`` refine,
   all in codegen — no Python, no range join, no cross join.

Scale: both sides shuffle once on the cell key (plain hash join); a
dense city cell is a skewed key, which AQE's skew-split handles
(``spark.sql.adaptive.skewJoin``), or salt the exploded side by
splitting B's dense cells. Explode the SMALLER side (9× row inflation
on A; pick A accordingly) — at 100 TB the 9× rides through the shuffle
as compact (id, lat, lon, cx, cy) rows, not full payloads: join ids
first, attach payloads by id afterwards.

Distance is squared planar degrees — same metric and expression shape
as ``knn_join``, so results compare bit-exactly against an oracle
computing ``(a.lat-b.lat)² + (a.lon-b.lon)²``. No meridian wrap (the
driver tables' synthetic lon never straddles ±180; wrap needs a second
shifted-grid pass union'd in, noted here for planet deployments).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from ..grid.lattice import SPACETIME, block, scatter
from .geometry import EARTH_RADIUS_M

__all__ = ["dwithin_join", "dwithin_meters_join", "colocate_join"]


def dwithin_join(a: DataFrame, b: DataFrame, radius: float,
                 a_id: str = "id", b_id: str = "id",
                 keep_self: bool = True) -> DataFrame:
    """All pairs (a_id, b_id, dist2) with dist2 ≤ radius² (inclusive).

    ``a``/``b``: DataFrames with (id, lat, lon) — pass the same frame
    twice for a self-join; ``keep_self=False`` then drops the trivial
    (x, x) diagonal AND the mirrored (y, x) of every (x, y) pair
    (keeps the ``a_id < b_id`` half). A is the exploded (9×) side —
    pass the smaller input as ``a``.
    """
    r = float(radius)
    aa = scatter(
        a.select(F.col(a_id).alias("a_id"),
                 F.col("lat").alias("a_lat"), F.col("lon").alias("a_lon"),
                 F.floor(F.col("lon") / r).cast("long").alias("cx"),
                 F.floor(F.col("lat") / r).cast("long").alias("cy")),
        ["cx", "cy"], block(1), "a_id", "a_lat", "a_lon")
    bb = (b.select(F.col(b_id).alias("b_id"),
                   F.col("lat").alias("b_lat"), F.col("lon").alias("b_lon"))
          .withColumn("cx", F.floor(F.col("b_lon") / r).cast("long"))
          .withColumn("cy", F.floor(F.col("b_lat") / r).cast("long")))
    d2 = ((F.col("a_lat") - F.col("b_lat"))
          * (F.col("a_lat") - F.col("b_lat"))
          + (F.col("a_lon") - F.col("b_lon"))
          * (F.col("a_lon") - F.col("b_lon")))
    out = (aa.join(bb, ["cx", "cy"], "inner")
           .withColumn("dist2", d2)
           .filter(F.col("dist2") <= F.lit(r * r))
           .select("a_id", "b_id", "dist2"))
    if not keep_self:
        out = out.filter(F.col("a_id") < F.col("b_id"))
    return out


def dwithin_meters_join(a: DataFrame, b: DataFrame, radius_m: float,
                        a_id: str = "id", b_id: str = "id",
                        keep_self: bool = True,
                        wrap: bool = False) -> DataFrame:
    """Geodesic ST_DWithin: all pairs within ``radius_m`` METERS by the
    haversine metric, as a lat-banded bucket equi-join.

    The planar :func:`dwithin_join` grid breaks on a sphere — one degree
    of longitude shrinks by cos(lat) — so the cell WIDTH here adapts per
    latitude band while the HEIGHT stays fixed:

    - lat cell size ``c = 180·r/(πR)`` degrees (Δφ for a distance-r pair
      is ≤ r/R radians — exact, no latitude dependence);
    - lon cell width for band k: ``w(k) = 90·r / (R·cos_min(k))`` where
      cos_min is taken over the band EXTENDED by one cell both ways —
      a distance-r partner of a band-k point lies within that extension.
      The π/2 factor (90 = (π/2)·180/π·…) majorizes asin: from
      ``sin(Δλ/2) ≤ sin(r/2R)/cosφ`` and ``asin(x) ≤ xπ/2``,
      ``Δλ ≤ (π/2)(r/R)/cosφ`` — so a true pair differs by ≤ 1 lon
      cell IN THE B POINT'S BAND. Bands reaching |lat| ≥ 89° collapse
      to one world-wide cell (w = 360°), the polar cap degeneracy.

    A explodes 3× over neighbor BANDS, computing its lon cell in each
    neighbor band's OWN width, then 3× over lon offsets (9 keys, all
    distinct — each true pair joins exactly once, B owns one key). The
    9× inflation, shuffle and skew notes of :func:`dwithin_join` apply
    unchanged. The refine compares haversine numerators in codegen
    (``hav ≤ sin²(r/2R)`` — no asin/sqrt on the hot path); ``dist_m``
    (full asin) is computed only for surviving pairs, rounded to mm.

    ``wrap=False`` (default): no meridian wrap (same caveat as
    :func:`dwithin_join`). ``wrap=True`` adds the antimeridian pairs
    with a SECOND pass over lon rotated by 180°: a pair straddling
    ±180 is contiguous in rotated space (and vice versa for lon ≈ 0),
    so pass 1 keeps pairs whose raw lon difference is ≤ 180 and pass 2
    keeps exactly the straddling rest (opposite rotated signs and
    rotated difference < 180 ⇔ raw difference > 180) — a disjoint
    union, each true pair found exactly once, 2× the join cost. The
    haversine is periodic, so rotated Δλ yields the same ``dist_m``.
    """
    r = float(radius_m)
    c = 180.0 * r / (math.pi * EARTH_RADIUS_M)
    sin2_half = math.sin(r / (2.0 * EARTH_RADIUS_M)) ** 2

    def _w(band: F.Column) -> F.Column:
        mb = F.least(F.lit(90.0),
                     F.greatest(F.abs(band - 1), F.abs(band + 2))
                     * F.lit(c))
        return F.when(mb >= 89.0, F.lit(360.0)) \
                .otherwise(F.lit(90.0 * r / EARTH_RADIUS_M)
                           / F.cos(F.radians(mb)))

    offs = F.array(F.lit(-1), F.lit(0), F.lit(1))

    def _pairs(af: DataFrame, bf: DataFrame) -> DataFrame:
        """One grid pass: candidate join + hav refine, lons retained."""
        aa = (af.select(F.col(a_id).alias("a_id"),
                        F.col("lat").alias("a_lat"),
                        F.col("lon").alias("a_lon"))
              .withColumn("_dy", F.explode(offs))
              .withColumn("cy", (F.floor(F.col("a_lat") / c) + F.col("_dy"))
                          .cast("long"))
              .withColumn("_dx", F.explode(offs))
              .withColumn("cx", (F.floor(F.col("a_lon") / _w(F.col("cy")))
                                 + F.col("_dx")).cast("long"))
              .drop("_dx", "_dy"))
        bb = (bf.select(F.col(b_id).alias("b_id"),
                        F.col("lat").alias("b_lat"),
                        F.col("lon").alias("b_lon"))
              .withColumn("cy", F.floor(F.col("b_lat") / c).cast("long"))
              .withColumn("cx", F.floor(F.col("b_lon")
                                        / _w(F.col("cy"))).cast("long")))
        dphi = F.radians(F.col("b_lat") - F.col("a_lat")) / 2
        dlam = F.radians(F.col("b_lon") - F.col("a_lon")) / 2
        hav = (F.sin(dphi) * F.sin(dphi)
               + F.cos(F.radians(F.col("a_lat")))
               * F.cos(F.radians(F.col("b_lat")))
               * F.sin(dlam) * F.sin(dlam))
        return (aa.join(bb, ["cx", "cy"], "inner")
                .withColumn("_hav", hav)
                .filter(F.col("_hav") <= F.lit(sin2_half)))

    if not wrap:
        cand = _pairs(a, b)
    else:
        rot = F.when(F.col("lon") >= 0, F.col("lon") - 180.0) \
               .otherwise(F.col("lon") + 180.0)
        dlon = F.abs(F.col("a_lon") - F.col("b_lon"))
        p1 = _pairs(a, b).filter(dlon <= 180.0)
        # pass-2 lons are rotated; straddling-in-raw ⇔ opposite rotated
        # signs AND rotated |Δλ| < 180 — complementary to pass 1
        p2 = (_pairs(a.withColumn("lon", rot), b.withColumn("lon", rot))
              .filter((dlon < 180.0)
                      & ((F.col("a_lon") >= 0) != (F.col("b_lon") >= 0))))
        cand = p1.unionByName(p2)

    out = (cand.withColumn("dist_m",
                           F.round(F.lit(2.0 * EARTH_RADIUS_M)
                                   * F.asin(F.sqrt(F.col("_hav"))), 3))
           .select("a_id", "b_id", "dist_m"))
    if not keep_self:
        out = out.filter(F.col("a_id") < F.col("b_id"))
    return out


def colocate_join(a: DataFrame, b: DataFrame, radius: float,
                  max_dt_us: int, a_id: str = "id", b_id: str = "id",
                  keep_self: bool = True) -> DataFrame:
    """Spatiotemporal co-location join: pairs within ``radius`` in space
    AND within ``max_dt_us`` microseconds in time — the contact-tracing /
    co-visit / trajectory-encounter primitive, as a 3-D bucket equi-join.

    ``a``/``b``: DataFrames with (id, lat, lon, ts_us) where ``ts_us`` is
    int64 epoch microseconds (``F.unix_micros(ts)`` — integer time, no
    float or timezone ambiguity, exactly DuckDB's ``epoch_us``). Returns
    (a_id, b_id, dist2, dt_us) with dist2 ≤ radius² and |dt_us| ≤
    max_dt_us (both inclusive).

    Construction extends :func:`dwithin_join` by one axis: the bucket key
    is (cell_x, cell_y, time_bucket) with cell size = radius and bucket
    width = max_dt_us. A explodes to its 3×3×3 = 27-bucket neighborhood;
    B keeps its single bucket, so the candidate set is COMPLETE (each
    axis differs by ≤ 1 bucket for a true pair) and each true pair joins
    exactly once (B owns one bucket — no dedup pass). The exact
    dist²/|Δt| refine runs in whole-stage codegen.

    Scale: one shuffle per side on the 3-int key. The time axis spreads
    a dense city cell across buckets, so hot-key skew is strictly milder
    than the pure-spatial join's; residual skew (a stadium at kickoff)
    is AQE skew-split territory, same note as :func:`dwithin_join`.
    The 27× inflation rides as fixed-width (id, lat, lon, ts, 3 ints)
    rows — join ids first, attach payloads by id afterwards.
    """
    r = float(radius)
    w = int(max_dt_us)
    aa = (a.select(F.col(a_id).alias("a_id"),
                   F.col("lat").alias("a_lat"), F.col("lon").alias("a_lon"),
                   F.col("ts_us").alias("a_ts"))
          .withColumns({
              "cx": F.floor(F.col("a_lon") / r).cast("long"),
              "cy": F.floor(F.col("a_lat") / r).cast("long"),
              # integer DIV, not floor(double/):  epoch_us ~1.7e15
              # divided in f64 can land an ulp past a bucket boundary
              # and shift ct by 1, breaking the ±1 completeness cover.
              # DIV == floor for ts ≥ 0 (documented: epoch microseconds
              # are nonnegative).
              "ct": F.expr(f"a_ts DIV {w}").cast("long")}))
    aa = scatter(aa, ["cx", "cy", "ct"], SPACETIME,
                 "a_id", "a_lat", "a_lon", "a_ts")
    bb = (b.select(F.col(b_id).alias("b_id"),
                   F.col("lat").alias("b_lat"), F.col("lon").alias("b_lon"),
                   F.col("ts_us").alias("b_ts"))
          .withColumn("cx", F.floor(F.col("b_lon") / r).cast("long"))
          .withColumn("cy", F.floor(F.col("b_lat") / r).cast("long"))
          .withColumn("ct", F.expr(f"b_ts DIV {w}").cast("long")))
    d2 = ((F.col("a_lat") - F.col("b_lat"))
          * (F.col("a_lat") - F.col("b_lat"))
          + (F.col("a_lon") - F.col("b_lon"))
          * (F.col("a_lon") - F.col("b_lon")))
    out = (aa.join(bb, ["cx", "cy", "ct"], "inner")
           .withColumn("dist2", d2)
           .withColumn("dt_us", F.col("b_ts") - F.col("a_ts"))
           .filter((F.col("dist2") <= F.lit(r * r))
                   & (F.abs(F.col("dt_us")) <= F.lit(w)))
           .select("a_id", "b_id", "dist2", "dt_us"))
    if not keep_self:
        out = out.filter(F.col("a_id") < F.col("b_id"))
    return out
