"""Per-user mobility metrics over trajectory point tables.

The three summary statistics every human-mobility study computes from
raw fixes (González et al. 2008's r_g; OD matrices, built on
:func:`osmspark.spatial.flows.od_matrix`; visit diversity) —
downstream of the decode surface the reference provides
(`lib/pbfParser.js` emits entity rows only; these consume them).

Exactness discipline (the repo-wide rule): every SUM that crosses a
shuffle is an exact integer/decimal — float sums are order-dependent
and therefore not engine-reproducible — and each result holds at most
ONE final float division/sqrt of identical exact operands, rounded to
9 dp. Coordinates enter as 1e-6° fixed-point integers via round(x·10⁶)
(identical HALF-AWAY-FROM-ZERO semantics in Spark and DuckDB on
identical IEEE inputs).

Scale shape: all three are single combinable aggregations keyed by the
user/trip id (one shuffle; skew bounded by the busiest device, the
standard mobility-table shape AQE handles). No windows, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .flows import od_matrix

__all__ = ["radius_of_gyration", "location_diversity",
           "cell_transitions", "home_location", "jump_lengths",
           "k_anonymous_cells", "od_gravity"]

_US_PER_HOUR = 3_600_000_000


def _udeg(c: F.Column) -> F.Column:
    """1e-6° fixed-point integer coordinate (exact on both engines:
    round-half-away on identical doubles)."""
    return F.round(c * F.lit(1000000.0), 0).cast("long")


def radius_of_gyration(points: DataFrame, user_col: str = "trip_id",
                       lat_col: str = "lat",
                       lon_col: str = "lon") -> DataFrame:
    """Equirectangular radius of gyration per user, in DEGREES:

        r_g² = (1/n) Σ_i ‖p_i − p̄‖²
             = (n·Σ‖p‖² − ‖Σp‖²) / n²          (variance identity)

    The numerator is computed entirely in exact integer µdeg² via the
    N-scaled moment form — n·(Qx+Qy) − Sx² − Sy² with Q the
    decimal(38,0) coordinate-square sums — so the only float ops are
    the final sqrt and division:  r_g = √num / (n·10⁶).

    Planar-degree convention (not great-circle meters): r_g is a
    dispersion statistic, and the equirectangular quadratic keeps the
    whole reduction exact; callers needing meters scale by
    111,195·cos(lat̄) downstream. Output: (user, n_points, rg_deg).
    """
    ux, uy = _udeg(F.col(lat_col)), _udeg(F.col(lon_col))
    g = (points
         .select(F.col(user_col).alias("user"),
                 ux.alias("ux"), uy.alias("uy"))
         .groupBy("user")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum("ux").alias("sx"),
              F.sum("uy").alias("sy"),
              F.sum(F.col("ux").cast("decimal(38,0)")
                    * F.col("ux").cast("decimal(38,0)")
                    + F.col("uy").cast("decimal(38,0)")
                    * F.col("uy").cast("decimal(38,0)")).alias("q")))
    num = (F.col("n").cast("decimal(38,0)") * F.col("q")
           - F.col("sx").cast("decimal(38,0)")
           * F.col("sx").cast("decimal(38,0)")
           - F.col("sy").cast("decimal(38,0)")
           * F.col("sy").cast("decimal(38,0)"))
    rg = (F.sqrt(num.cast("double"))
          / (F.col("n").cast("double") * F.lit(1000000.0)))
    return g.select(F.col("user"),
                    F.col("n").alias("n_points"),
                    F.round(rg, 9).alias("rg_deg"))


def location_diversity(points: DataFrame, cell_deg: float = 0.5,
                       user_col: str = "trip_id", lat_col: str = "lat",
                       lon_col: str = "lon") -> DataFrame:
    """Per-user visit-location diversity over ``cell_deg`` grid cells.

    Shannon entropy is the textbook statistic but its Σ c·ln(c) float
    sum is order-dependent across partitions — not engine-exact — so
    this computes the Gini–Simpson index instead (the standard
    alternative, 1 − Σ(c_i/n)², the probability two random fixes fall
    in different cells):

        simpson_div = 1 − Σc_i² / n²      (exact ints, ONE division)

    plus ``top_share`` = max c_i / n (the predictability proxy) and the
    distinct-cell count. Two stacked combinable aggregations on the
    (user, cell) then user key; every cross-engine value is an integer
    until the two final divisions, rounded to 9 dp.
    Output: (user, n_points, n_cells, top_share, simpson_div).
    """
    inv = F.lit(1.0 / cell_deg)
    per_cell = (points
                .groupBy(F.col(user_col).alias("user"),
                         F.floor(F.col(lon_col) * inv).cast("long")
                         .alias("cx"),
                         F.floor(F.col(lat_col) * inv).cast("long")
                         .alias("cy"))
                .agg(F.count(F.lit(1)).alias("c")))
    g = (per_cell.groupBy("user")
         .agg(F.sum("c").alias("n"),
              F.count(F.lit(1)).alias("n_cells"),
              F.max("c").alias("cmax"),
              F.sum(F.col("c").cast("decimal(38,0)")
                    * F.col("c").cast("decimal(38,0)")).alias("q")))
    n_d = F.col("n").cast("double")
    simpson = F.lit(1.0) - (F.col("q").cast("double") / (n_d * n_d))
    return g.select(F.col("user"),
                    F.col("n").alias("n_points"),
                    F.col("n_cells"),
                    F.round(F.col("cmax").cast("double") / n_d, 9)
                    .alias("top_share"),
                    F.round(simpson, 9).alias("simpson_div"))


def cell_transitions(points: DataFrame, cell_deg: float = 0.5,
                     user_col: str = "trip_id", ts_col: str = "ts_us",
                     id_col: str = "id", lat_col: str = "lat",
                     lon_col: str = "lon") -> DataFrame:
    """First-order Markov cell-transition matrix: every consecutive fix
    pair (ordered by timestamp, point-id tiebreak — a total order, so
    the successor relation is deterministic) contributes one transition
    from its cell to the next fix's cell, self-loops included (the
    "stay" probability is part of the chain).

    The transition probability is kept as an exact RATIO of two
    integer censuses — n_trans per (origin, destination) over n_out
    per origin — with ONE final float division, rounded to 9 dp, so
    rows reproduce bit-for-bit on any engine and Σ prob per origin is
    1 up to representation.

    Scale shape: ONE pass over the raw fixes (the lag window on the
    per-user partitioning — the same key every trajectory op in this
    module shuffles on) into one combinable census; the per-origin
    normalizer is a sum-window over the already-aggregated cell-pair
    table (cells ≪ fixes — plan-pinned in tests/test_plans_r5_ops.py:
    the raw-side window appears exactly once, never recomputed for
    the marginal). Output: (o_cx, o_cy, d_cx, d_cy, n_trans, n_out,
    prob).
    """
    inv = F.lit(1.0 / cell_deg)
    pt = points.select(
        F.col(user_col).alias("user"), F.col(ts_col).alias("ts"),
        F.col(id_col).alias("pid"),
        F.floor(F.col(lon_col) * inv).cast("long").alias("cx"),
        F.floor(F.col(lat_col) * inv).cast("long").alias("cy"))
    w = Window.partitionBy("user").orderBy("ts", "pid")
    seg = (pt.select(F.lag("cx").over(w).alias("o_cx"),
                     F.lag("cy").over(w).alias("o_cy"),
                     F.col("cx").alias("d_cx"),
                     F.col("cy").alias("d_cy"))
           .filter(F.col("o_cx").isNotNull()))
    trans = (seg.groupBy("o_cx", "o_cy", "d_cx", "d_cy")
             .agg(F.count(F.lit(1)).alias("n_trans")))
    wo = Window.partitionBy("o_cx", "o_cy")
    n_out = F.sum("n_trans").over(wo)
    return trans.select(
        "o_cx", "o_cy", "d_cx", "d_cy", "n_trans",
        n_out.cast("long").alias("n_out"),
        F.round(F.col("n_trans").cast("double")
                / n_out.cast("double"), 9).alias("prob"))


def home_location(points: DataFrame, cell_deg: float = 0.5,
                  night_start_h: int = 22, night_end_h: int = 6,
                  user_col: str = "trip_id", ts_col: str = "ts_us",
                  lat_col: str = "lat", lon_col: str = "lon") -> DataFrame:
    """Home-location detection: per user, the MODAL grid cell among
    night-time fixes (hour-of-day in the wrap-around window
    [night_start_h, 24) ∪ [0, night_end_h) — the standard CDR
    heuristic: where a device sleeps is where it lives).

    hour = (ts_us // 3.6e9) % 24 on nonnegative epoch µs — integer on
    both engines. The argmax is min over the lexicographic struct
    (−count, cx, cy): deterministic under count ties (southwest-most
    of the tied cells), combinable, no window. Users with zero night
    fixes simply have no row (absence of evidence, not a zero).

    Output: (user, n_night, home_cx, home_cy, n_home).
    """
    inv = F.lit(1.0 / cell_deg)
    hour = (F.col(ts_col) / F.lit(_US_PER_HOUR)).cast("long") % 24
    is_night = ((hour >= night_start_h) | (hour < night_end_h)) \
        if night_start_h > night_end_h else \
        ((hour >= night_start_h) & (hour < night_end_h))
    per_cell = (points.filter(is_night)
                .groupBy(F.col(user_col).alias("user"),
                         F.floor(F.col(lon_col) * inv).cast("long")
                         .alias("cx"),
                         F.floor(F.col(lat_col) * inv).cast("long")
                         .alias("cy"))
                .agg(F.count(F.lit(1)).alias("c")))
    best = F.min(F.struct((-F.col("c")).alias("neg"),
                          F.col("cx"), F.col("cy"))).alias("b")
    return (per_cell.groupBy("user")
            .agg(F.sum("c").alias("n_night"), best)
            .select("user",
                    F.col("n_night").cast("long").alias("n_night"),
                    F.col("b.cx").alias("home_cx"),
                    F.col("b.cy").alias("home_cy"),
                    (-F.col("b.neg")).alias("n_home")))


def jump_lengths(points: DataFrame, bucket_mm: int = 1_000_000_000,
                 user_col: str = "trip_id", ts_col: str = "ts_us",
                 id_col: str = "id", lat_col: str = "lat",
                 lon_col: str = "lon") -> DataFrame:
    """Jump-length (displacement) histogram over consecutive fixes —
    the Δr distribution behind the truncated-power-law result of
    González et al. 2008, binned on fixed-width integer buckets.

    Each consecutive pair (same deterministic ordering as
    ``cell_transitions``) contributes one jump of haversine length
    floored to whole millimeters (int64, the repo-wide exact-distance
    quantum shared with ``traj.speed_filter``); the bucket index is
    the integer division ``seg_mm // bucket_mm`` (the 1e9 mm default
    is 1,000 km bins — continent scale; pass 1_000_000 for km bins).
    Zero-length jumps land in bucket 0.

    One window + one census — integer-only state end to end.
    Output: (bucket, lo_mm, n_jumps) sorted-friendly integer bins.
    """
    from .traj import _seg_mm
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    seg = _seg_mm(F.lag(lat_col).over(w), F.lag(lon_col).over(w),
                  F.col(lat_col), F.col(lon_col))
    jumps = (points.select(seg.alias("seg_mm"))
             .filter(F.col("seg_mm").isNotNull()))
    b = F.lit(int(bucket_mm))
    return (jumps.groupBy((F.col("seg_mm") / b).cast("long")
                          .alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n_jumps"))
            .select("bucket", (F.col("bucket") * b).alias("lo_mm"),
                    "n_jumps"))


def k_anonymous_cells(points: DataFrame, k: int, cell_deg: float = 0.5,
                      user_col: str = "trip_id", lat_col: str = "lat",
                      lon_col: str = "lon") -> DataFrame:
    """k-anonymity cell census — the suppression rule every location-
    data release applies (a cell whose fixes come from fewer than k
    DISTINCT users re-identifies them; Sweeney 2002 adapted to grid
    aggregates): per cell, the distinct-user and fix counts plus the
    release flag n_users ≥ k. Suppressed cells stay in the output
    with ``released = false`` so the privacy audit can count what the
    rule withheld (the release pipeline filters on the flag).

    Integer-only (trivially engine-exact). One combinable two-level
    census: (cell, user) partial counts collapse map-side before the
    per-cell rollup, so a 10^9-fix celebrity cell still reduces to
    one row per user before the second shuffle.
    Output: (cell_x, cell_y, n_users, n_fixes, released).
    """
    inv = F.lit(1.0 / cell_deg)
    per_user = (points
                .groupBy(F.floor(F.col(lon_col) * inv).cast("long")
                         .alias("cell_x"),
                         F.floor(F.col(lat_col) * inv).cast("long")
                         .alias("cell_y"),
                         F.col(user_col).alias("u"))
                .agg(F.count(F.lit(1)).alias("c")))
    return (per_user.groupBy("cell_x", "cell_y")
            .agg(F.count(F.lit(1)).alias("n_users"),
                 F.sum("c").alias("n_fixes"))
            .select("cell_x", "cell_y",
                    F.col("n_users").cast("long").alias("n_users"),
                    F.col("n_fixes").cast("long").alias("n_fixes"),
                    (F.col("n_users") >= int(k)).alias("released")))


def od_gravity(points: DataFrame, cell_deg: float = 0.5,
               user_col: str = "trip_id", ts_col: str = "ts_us",
               id_col: str = "id", lat_col: str = "lat",
               lon_col: str = "lon") -> DataFrame:
    """Gravity-model residuals over the OD flow matrix: which
    origin→destination links carry MORE trips than their marginals
    predict? The doubly-constrained-free null model

        E[T_od] = O_o · D_d / T

    (O = trips out of the origin cell, D = trips into the destination
    cell, T = total trips) against the observed
    :func:`osmspark.spatial.flows.od_matrix` counts.
    Over-expectation links (residual ≫ 0) are the corridors.

    All marginals are exact integer censuses on top of the SAME
    min/max(struct) trip collapse as ``od_matrix``; expected is one
    float division of exact operands and the residual one subsequent
    IEEE subtraction — both deterministic on identical inputs, 9 dp.
    Output: (o_cx, o_cy, d_cx, d_cy, n_trips, o_out, d_in, expected,
    residual).
    """
    flows = od_matrix(points, trip_col=user_col, ts_col=ts_col,
                      id_col=id_col, lat_col=lat_col, lon_col=lon_col,
                      cell_deg=cell_deg).select(
        F.col("o_cell_x").alias("o_cx"), F.col("o_cell_y").alias("o_cy"),
        F.col("d_cell_x").alias("d_cx"), F.col("d_cell_y").alias("d_cy"),
        "n_trips")
    o_marg = (flows.groupBy("o_cx", "o_cy")
              .agg(F.sum("n_trips").alias("o_out")))
    d_marg = (flows.groupBy("d_cx", "d_cy")
              .agg(F.sum("n_trips").alias("d_in")))
    tot = flows.agg(F.sum("n_trips").alias("t_all"))
    j = (flows.join(F.broadcast(o_marg), ["o_cx", "o_cy"])
         .join(F.broadcast(d_marg), ["d_cx", "d_cy"])
         .crossJoin(F.broadcast(tot)))
    expected = (F.col("o_out").cast("double")
                * F.col("d_in").cast("double")
                / F.col("t_all").cast("double"))
    return j.select(
        "o_cx", "o_cy", "d_cx", "d_cy", "n_trips",
        F.col("o_out").cast("long").alias("o_out"),
        F.col("d_in").cast("long").alias("d_in"),
        F.round(expected, 9).alias("expected"),
        F.round(F.col("n_trips").cast("double") - expected, 9)
        .alias("residual"))
