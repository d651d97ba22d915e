"""Knox space–time interaction statistic.

Epidemiology's classic cluster test (Knox 1964; the COVID-era contact
analysis primitive): do events that happen CLOSE IN SPACE also happen
CLOSE IN TIME?  Count event pairs within radius δ AND window τ and
compare against the independence expectation

    E[X] = Ns · Nt / Npairs

(Ns = space-close pairs, Nt = time-close pairs, Npairs = C(n,2)).
A ratio X/E[X] ≫ 1 means contagion-like space-time clustering.

Exactness: distances compare in integer µdeg² ((Δux)² + (Δuy)² ≤ r²,
the repo's equirectangular fixed-point convention — planar, no
antimeridian wrap: a statistic, not a geofence), time in integer µs;
all four counts are exact integers and the two ratios are single
float divisions of exact operands, rounded 9 dp.

Scale shape — never all-pairs:
- space-close pairs via the 3×3 δ-cell bucket self-join, one side a
  ``lattice.scatter`` (each unordered pair surfaces exactly once: the
  cell offset is determined by the pair, `id <` keeps one
  orientation);
- time-close pairs via the 3-offset τ-bin self-join, the same scatter
  over one key (same argument);
- both-close pairs are a FILTER on the spatial join's carried
  timestamps — no third join.
Both joins are equi-joins on integer bucket keys (shuffle-hash /
broadcast under AQE); worst-case skew is a single dense cell, the
same envelope as ``dwithin``. The O(n²) brute force exists only in
the DuckDB oracle at toy scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..grid.lattice import SPACETIME, block, scatter

__all__ = ["knox_statistic", "contact_pairs", "gi_star_spacetime"]


def _udeg(c: F.Column) -> F.Column:
    return F.round(c * F.lit(1000000.0), 0).cast("long")


def knox_statistic(points: DataFrame, radius_udeg: int, tau_us: int,
                   id_col: str = "id", ts_col: str = "ts_us",
                   lat_col: str = "lat", lon_col: str = "lon") -> DataFrame:
    """One-row Knox summary over an event point table.

    Output: (n_events, n_pairs, n_space, n_time, n_both, expected,
    knox_ratio) — expected = Ns·Nt/Npairs; knox_ratio = X/E[X] =
    X·Npairs/(Ns·Nt), NULL when Ns or Nt is 0. Pairs are unordered,
    distinct events (i < j by id); coincident events count.
    """
    r = int(radius_udeg)
    t = int(tau_us)
    pt = points.select(F.col(id_col).alias("pid"),
                       F.col(ts_col).alias("ts"),
                       _udeg(F.col(lat_col)).alias("ux"),
                       _udeg(F.col(lon_col)).alias("uy"))
    cell = pt.select(
        "pid", "ts", "ux", "uy",
        F.floor(F.col("ux") / F.lit(float(r))).cast("long").alias("cx"),
        F.floor(F.col("uy") / F.lit(float(r))).cast("long").alias("cy"),
        F.floor(F.col("ts") / F.lit(float(t))).cast("long").alias("tb"))

    n = cell.agg(F.count(F.lit(1)).alias("n_events"))

    left = scatter(cell, ["cx", "cy"], block(1),
                   F.col("pid").alias("pid_i"), F.col("ts").alias("ts_i"),
                   F.col("ux").alias("ux_i"), F.col("uy").alias("uy_i"))
    dx = F.col("ux_i") - F.col("ux")
    dy = F.col("uy_i") - F.col("uy")
    sp = (left.join(cell.select("pid", "ts", "ux", "uy", "cx", "cy"),
                    ["cx", "cy"], "inner")
          .filter((F.col("pid_i") < F.col("pid"))
                  & (dx * dx + dy * dy <= F.lit(r * r)))
          .select(F.col("ts_i"), F.col("ts")))
    sp_agg = sp.agg(
        F.count(F.lit(1)).alias("n_space"),
        F.coalesce(F.sum(
            (F.abs(F.col("ts_i") - F.col("ts")) <= t).cast("long")),
            F.lit(0)).alias("n_both"))

    tleft = scatter(cell, ["tb"], block(1, dims=1),
                    F.col("pid").alias("pid_i"), F.col("ts").alias("ts_i"))
    tm = (tleft.join(cell.select("pid", "ts", "tb"), ["tb"], "inner")
          .filter((F.col("pid_i") < F.col("pid"))
                  & (F.abs(F.col("ts_i") - F.col("ts")) <= t)))
    tm_agg = tm.agg(F.count(F.lit(1)).alias("n_time"))

    out = n.crossJoin(sp_agg).crossJoin(tm_agg)
    npairs = (F.col("n_events").cast("decimal(38,0)")
              * (F.col("n_events").cast("decimal(38,0)") - 1)
              / F.lit(2)).cast("decimal(38,0)")
    ns_nt = (F.col("n_space").cast("decimal(38,0)")
             * F.col("n_time").cast("decimal(38,0)"))
    expected = F.when(npairs != 0,
                      F.round(ns_nt.cast("double")
                              / npairs.cast("double"), 9))
    ratio = F.when(ns_nt != 0,
                   F.round((F.col("n_both").cast("decimal(38,0)")
                            * npairs).cast("double")
                           / ns_nt.cast("double"), 9))
    return out.select(
        F.col("n_events").cast("long").alias("n_events"),
        npairs.cast("long").alias("n_pairs"),
        F.col("n_space").cast("long").alias("n_space"),
        F.col("n_time").cast("long").alias("n_time"),
        F.col("n_both").cast("long").alias("n_both"),
        expected.alias("expected"),
        ratio.alias("knox_ratio"))


def contact_pairs(points: DataFrame, radius_udeg: int, tau_us: int,
                  user_col: str = "trip_id", id_col: str = "id",
                  ts_col: str = "ts_us", lat_col: str = "lat",
                  lon_col: str = "lon") -> DataFrame:
    """Co-location contact detection — the per-pair companion to the
    global ``knox_statistic``: WHICH users were within δ of each other
    within τ, and how often. The contact-tracing / flock-mining
    primitive over raw fixes.

    A contact is an unordered pair of fixes from two DIFFERENT users
    with (Δux)² + (Δuy)² ≤ δ² and |Δts| ≤ τ; contacts roll up per
    unordered user pair. Fix pairs dedup by fix id (i < j surfaces
    each candidate exactly once through the 3×3 δ-cell bucket join —
    the cell offset is determined by the pair); users order by
    least/greatest afterwards, so (a, b) rows are canonical.

    Spatial candidates come from the same δ-cell bucket self-join as
    knox_statistic (never all-pairs); the τ window is a FILTER on the
    carried timestamps. Integer-only end to end — trivially
    engine-exact. Output: (user_a, user_b, n_contacts).
    """
    r = int(radius_udeg)
    t = int(tau_us)
    pt = points.select(F.col(user_col).alias("u"),
                       F.col(id_col).alias("pid"),
                       F.col(ts_col).alias("ts"),
                       _udeg(F.col(lat_col)).alias("ux"),
                       _udeg(F.col(lon_col)).alias("uy"))
    cell = pt.select(
        "u", "pid", "ts", "ux", "uy",
        F.floor(F.col("ux") / F.lit(float(r))).cast("long").alias("cx"),
        F.floor(F.col("uy") / F.lit(float(r))).cast("long").alias("cy"))

    left = scatter(cell, ["cx", "cy"], block(1),
                   F.col("u").alias("u_i"), F.col("pid").alias("pid_i"),
                   F.col("ts").alias("ts_i"), F.col("ux").alias("ux_i"),
                   F.col("uy").alias("uy_i"))
    dx = F.col("ux_i") - F.col("ux")
    dy = F.col("uy_i") - F.col("uy")
    hits = (left.join(cell.select("u", "pid", "ts", "ux", "uy",
                                  "cx", "cy"), ["cx", "cy"], "inner")
            .filter((F.col("pid_i") < F.col("pid"))
                    & (F.col("u_i") != F.col("u"))
                    & (dx * dx + dy * dy <= F.lit(r * r))
                    & (F.abs(F.col("ts_i") - F.col("ts")) <= t)))
    return (hits.groupBy(
        F.least(F.col("u_i"), F.col("u")).alias("user_a"),
        F.greatest(F.col("u_i"), F.col("u")).alias("user_b"))
        .agg(F.count(F.lit(1)).alias("n_contacts")))


def gi_star_spacetime(bins: DataFrame, x_col: str = "n",
                      cx_col: str = "cell_x", cy_col: str = "cell_y",
                      t_col: str = "tbin") -> DataFrame:
    """Space-time Getis-Ord Gi* — the hot-spot statistic over the
    space-TIME cube (the first half of "emerging hot spot analysis";
    ``trend.mann_kendall`` over the per-cell series is the second):
    each (cell, time-bin) gets a z-score against its 3×3×3
    neighborhood (queen ring 1 in space × ±1 time step, self
    included — the * variant).

    Identical exact algebra to ``autocorr.getis_ord_gi_star`` — the
    neighborhood just gains a third axis:

        A_i = N·L_i − S·W_i   B = N·Q − S²   C_i = N·W_i − W_i²
        Gi* = A_i / (sqrt(B) · sqrt(C_i / (N−1)))

    with every input decimal(38,0)-exact over the OBSERVED bins
    (absent space-time voxels are not zero observations — same
    convention as the 2-D statistic) and a float tail of identical
    exact operands, rounded 9 dp.

    One ``lattice.scatter`` to the 27 ``SPACETIME`` offsets +
    equi-join on (cx, cy, tb) + one combinable aggregation + broadcast
    global moments — the 2-D plan with a wider key. NULL z when N = 1
    or C_i = 0.
    Output: (cell_x, cell_y, tbin, x, w_i, l_sum, a_num, gi_z).
    """
    base = bins.select(F.col(cx_col).alias("cx"),
                       F.col(cy_col).alias("cy"),
                       F.col(t_col).alias("tb"),
                       F.col(x_col).cast("long").alias("x"))
    tot = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("x").cast("decimal(38,0)")
              * F.col("x").cast("decimal(38,0)")).alias("q_d"))

    nbr = (scatter(base, ["cx", "cy", "tb"], SPACETIME)
           .join(base, ["cx", "cy", "tb"], "inner")
           .groupBy("o_cx", "o_cy", "o_tb")
           .agg(F.count(F.lit(1)).alias("w_i"),
                F.sum("x").alias("l_sum")))

    joined = (base.join(nbr, (F.col("cx") == F.col("o_cx"))
                        & (F.col("cy") == F.col("o_cy"))
                        & (F.col("tb") == F.col("o_tb")), "inner")
              .crossJoin(F.broadcast(tot)))
    a_d = (F.col("n").cast("decimal(38,0)")
           * F.col("l_sum").cast("decimal(38,0)")
           - F.col("s").cast("decimal(38,0)")
           * F.col("w_i").cast("decimal(38,0)"))
    b_d = (F.col("n").cast("decimal(38,0)") * F.col("q_d")
           - F.col("s").cast("decimal(38,0)")
           * F.col("s").cast("decimal(38,0)"))
    c_i = F.col("n") * F.col("w_i") - F.col("w_i") * F.col("w_i")
    z = F.when(
        (F.col("n") > 1) & (c_i > 0) & (b_d > 0),
        a_d.cast("double")
        / (F.sqrt(b_d.cast("double"))
           * F.sqrt(c_i.cast("double")
                    / (F.col("n") - F.lit(1)).cast("double"))))
    return (joined.select(
        F.col("cx").alias("cell_x"), F.col("cy").alias("cell_y"),
        F.col("tb").alias("tbin"), F.col("x"), F.col("w_i"),
        F.col("l_sum"), a_d.cast("long").alias("a_num"),
        F.round(z, 9).alias("gi_z")))
