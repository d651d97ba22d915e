"""Global spatial autocorrelation (Moran's I) over a tile raster.

The first statistic a spatial analyst computes over a per-cell
aggregate ("are my hot tiles clustered or random?"). For a value x
over N observed cells with binary rook adjacency w_ij:

    I = (N / W) · Σ_ij w_ij (x_i − x̄)(x_j − x̄) / Σ_i (x_i − x̄)²

Exactness trick: multiply every deviation by N — ``dev_i = N·x_i − S``
(S = Σx) is an INTEGER, and the N² factors cancel between numerator
and denominator. Both quadratic sums are then exact int64-product /
decimal(38,0)-sum arithmetic — order-insensitive, engine-exact — and
only the final single division is floating point (identical operands ⇒
identical IEEE result on any engine). Envelope: products are exact
while |dev| = |N·x − S| < 3·10^9 (int64 product headroom); past that
(continental cell counts) cast the devs themselves to decimal before
multiplying — noted, not silently wrong: decimal sums overflow to NULL,
never wrap.

Scale shape: adjacency is one ``lattice.scatter`` of every cell to
its 4 rook offsets, then an equi-join on the cell key (one shuffle, no
range or cross join); the three moments (N, S, Σdev², Σdev·dev) are two
map-side-combinable aggregations. Observed-cells-only convention:
absent tiles are not zero-valued observations (the standard lattice
treatment for sparse rasters).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..grid.lattice import ROOK, block, scatter

__all__ = ["morans_i", "gearys_c", "getis_ord_gi_star",
           "local_morans_i", "join_counts", "getis_general_g",
           "bivariate_morans_i"]


def morans_i(cells: DataFrame, x_col: str = "n",
             cx_col: str = "cell_x", cy_col: str = "cell_y") -> DataFrame:
    """One-row result: (n_cells, w_pairs, num, den, moran_i).

    ``w_pairs`` counts ORDERED adjacent pairs (both directions — the
    symmetric-weight convention, consistent between numerator and W).
    ``num``/``den`` are the N-scaled exact integer quadratic sums;
    ``moran_i`` = (n/W)·num/den as a double, NULL when den = 0 (all
    values equal) or no adjacent pairs exist.
    """
    base = cells.select(F.col(cx_col).alias("cx"),
                        F.col(cy_col).alias("cy"),
                        F.col(x_col).cast("long").alias("x"))
    tot = base.agg(F.count(F.lit(1)).alias("n"),
                   F.sum("x").alias("s"))
    dev = (base.crossJoin(F.broadcast(tot))
           .select("cx", "cy", "n",
                   (F.col("n") * F.col("x") - F.col("s")).alias("dev")))

    left = scatter(dev, ["cx", "cy"], ROOK, F.col("dev").alias("dev_i"))
    right = dev.select(F.col("cx"), F.col("cy"),
                       F.col("dev").alias("dev_j"))
    pairs = left.join(right, ["cx", "cy"], "inner")

    # Cast each deviation to decimal BEFORE multiplying: an int64*int64
    # product wraps silently under non-ANSI Spark for |dev| >= ~3e9,
    # whereas a decimal(38,0) product overflows to NULL and surfaces.
    num = pairs.agg(
        F.count(F.lit(1)).alias("w_pairs"),
        F.coalesce(F.sum(F.col("dev_i").cast("decimal(38,0)")
                         * F.col("dev_j").cast("decimal(38,0)")),
                   F.lit(0).cast("decimal(38,0)")).alias("num_d"))
    den = dev.agg(F.sum(F.col("dev").cast("decimal(38,0)")
                        * F.col("dev").cast("decimal(38,0)")).alias("den_d"))
    out = (tot.select(F.col("n").alias("n_cells"))
           .crossJoin(num).crossJoin(den))
    moran = F.when(
        (F.col("den_d") != 0) & (F.col("w_pairs") > 0),
        (F.col("n_cells").cast("double") / F.col("w_pairs").cast("double"))
        * (F.col("num_d").cast("double") / F.col("den_d").cast("double")))
    return out.select(
        "n_cells", "w_pairs",
        F.col("num_d").cast("long").alias("num"),
        F.col("den_d").cast("long").alias("den"),
        F.round(moran, 9).alias("moran_i"))


def gearys_c(cells: DataFrame, x_col: str = "n",
             cx_col: str = "cell_x", cy_col: str = "cell_y") -> DataFrame:
    """Geary's C over the same rook lattice — the local-difference
    companion to ``morans_i`` (C weights squared NEIGHBOR differences,
    so it detects local discontinuity where I detects global trend;
    C < 1 clustered, C ≈ 1 random, C > 1 dispersed):

        C = (N−1) · Σ_ij w_ij (x_i − x_j)² / (2W · Σ_i (x_i − x̄)²)

    Exactness: the numerator Σ w (x_i − x_j)² is already an exact
    integer quadratic — no scaling needed; the denominator reuses the
    N-scaled deviation trick (Σ dev² = N²·Σ(x−x̄)², dev = N·x − S), so

        C = (N−1)·N² · num / (2W · den)

    with num/den decimal(38,0)-exact sums (overflow → NULL, never a
    wrap) and one final float division of identical exact operands.

    Same scale shape as morans_i: one ``lattice.scatter`` to the 4 rook
    offsets + equi-join (one shuffle, no range/cross join) and two
    combinable aggregations; absent tiles are not zero observations.

    One-row result: (n_cells, w_pairs, num, den, geary_c); NULL C when
    den = 0 (constant field), W = 0 (no adjacency) or N < 2.
    """
    base = cells.select(F.col(cx_col).alias("cx"),
                        F.col(cy_col).alias("cy"),
                        F.col(x_col).cast("long").alias("x"))
    tot = base.agg(F.count(F.lit(1)).alias("n"),
                   F.sum("x").alias("s"))
    dev = (base.crossJoin(F.broadcast(tot))
           .select("cx", "cy", "n",
                   F.col("x"),
                   (F.col("n") * F.col("x") - F.col("s")).alias("dev")))

    left = scatter(dev, ["cx", "cy"], ROOK, F.col("x").alias("x_i"))
    right = dev.select(F.col("cx"), F.col("cy"),
                       F.col("x").alias("x_j"))
    pairs = left.join(right, ["cx", "cy"], "inner")

    d = (F.col("x_i") - F.col("x_j")).cast("decimal(38,0)")
    num = pairs.agg(
        F.count(F.lit(1)).alias("w_pairs"),
        F.coalesce(F.sum(d * d),
                   F.lit(0).cast("decimal(38,0)")).alias("num_d"))
    den = dev.agg(F.sum(F.col("dev").cast("decimal(38,0)")
                        * F.col("dev").cast("decimal(38,0)")).alias("den_d"))
    out = (tot.select(F.col("n").alias("n_cells"))
           .crossJoin(num).crossJoin(den))
    n_dec = F.col("n_cells").cast("decimal(38,0)")
    geary = F.when(
        (F.col("den_d") != 0) & (F.col("w_pairs") > 0)
        & (F.col("n_cells") > 1),
        ((n_dec - 1) * n_dec * n_dec * F.col("num_d")).cast("double")
        / (F.lit(2).cast("decimal(38,0)")
           * F.col("w_pairs").cast("decimal(38,0)")
           * F.col("den_d")).cast("double"))
    return out.select(
        "n_cells", "w_pairs",
        F.col("num_d").cast("long").alias("num"),
        F.col("den_d").cast("long").alias("den"),
        F.round(geary, 9).alias("geary_c"))


def getis_ord_gi_star(cells: DataFrame, x_col: str = "n",
                      cx_col: str = "cell_x", cy_col: str = "cell_y",
                      ring: int = 1) -> DataFrame:
    """Local hot-spot z-scores (Getis-Ord Gi*) per cell — the per-cell
    companion to global ``morans_i``: WHERE are the hot tiles, not just
    whether hotness clusters. Binary queen weights over the Chebyshev
    ``ring`` (the (2r+1)² block, self included — the * variant).

        Gi* = (L_i − x̄·W_i) / (s·sqrt[(N·W_i − W_i²)/(N−1)])

    Exactness discipline (same as morans_i): every input to the final
    float expression is an exact integer —

        A_i = N·L_i − S·W_i          (N-scaled numerator)
        B   = N·Q − S²               (N²·s² , Q = Σx²)
        C_i = N·W_i − W_i²

    and Gi* = A_i / (sqrt(B)·sqrt(C_i/(N−1))) — the N factors cancel.
    Products go through decimal(38,0) so overflow surfaces as NULL
    (never a silent int64 wrap); the float tail is division/sqrt of
    identical exact operands on any IEEE engine, rounded to 9 dp.

    Scale shape: one ``lattice.scatter`` to the (2r+1)² block offsets +
    equi-join (no range or cross join), one per-cell combinable
    aggregation, and the three global moments broadcast.
    Observed-cells-only convention as in morans_i: absent tiles are not
    zero observations.

    NULL z when N = 1 or C_i = 0 (the neighborhood covers every
    observed cell — variance of the permutation distribution is 0).
    """
    base = cells.select(F.col(cx_col).alias("cx"),
                        F.col(cy_col).alias("cy"),
                        F.col(x_col).cast("long").alias("x"))
    tot = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("x").cast("decimal(38,0)")
              * F.col("x").cast("decimal(38,0)")).alias("q_d"))

    # origin cell scatters to every neighborhood slot it can observe
    # from; joining on the slot == "which observed cells does origin
    # see" because the offset grid is symmetric.
    nbr = (scatter(base, ["cx", "cy"], block(ring))
           .join(base, ["cx", "cy"], "inner")
           .groupBy("o_cx", "o_cy")
           .agg(F.count(F.lit(1)).alias("w_i"),
                F.sum("x").alias("l_sum")))

    joined = (base.join(nbr, (F.col("cx") == F.col("o_cx"))
                        & (F.col("cy") == F.col("o_cy")), "inner")
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
        F.col("x"), F.col("w_i"), F.col("l_sum"),
        a_d.cast("long").alias("a_num"),
        F.round(z, 9).alias("gi_z")))


def local_morans_i(cells: DataFrame, x_col: str = "n",
                   cx_col: str = "cell_x",
                   cy_col: str = "cell_y") -> DataFrame:
    """Local Moran's I (Anselin 1995 LISA) per cell over the rook
    lattice — decomposes the global ``morans_i`` into per-cell
    cluster/outlier scores (I_i > 0 with a hot x_i: High-High core;
    I_i < 0: spatial outlier):

        I_i = z_i · Σ_j w_ij z_j / m2        m2 = Σ z² / N

    With the N-scaled deviation dev = N·x − S (= N·z) the whole
    statistic collapses to exact integers:

        I_i = N · dev_i · lsum_i / Σ dev²    lsum_i = Σ_{j∈nbr} dev_j

    (the N⁴ factors cancel: numerator z_i·Σw z_j = dev_i·lsum/N²,
    denominator m2 = Σdev²/N³). Products run in decimal(38,0) — a
    deviation product overflows to NULL, never wraps — and I_i is ONE
    float division of exact operands, rounded 9 dp. The sum of
    ``num_i`` over all cells equals the global morans_i numerator·N,
    pinning the decomposition.

    Same plan shape as morans_i: one ``lattice.scatter`` rook
    equi-join, one per-cell aggregation, global moments broadcast.
    Isolated cells (w_i = 0) keep a row with lsum = 0 and I_i = 0 — the
    convention that makes ΣI_i reproduce the global numerator exactly.
    Output: (cell_x, cell_y, x, w_i, dev, lsum, lisa_i).
    """
    base = cells.select(F.col(cx_col).alias("cx"),
                        F.col(cy_col).alias("cy"),
                        F.col(x_col).cast("long").alias("x"))
    tot = base.agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("s"))
    dev = (base.crossJoin(F.broadcast(tot))
           .select("cx", "cy", "n", "x",
                   (F.col("n") * F.col("x") - F.col("s")).alias("dev")))

    nbr = (scatter(dev, ["cx", "cy"], ROOK)
           .join(dev.select("cx", "cy", F.col("dev").alias("dev_j")),
                 ["cx", "cy"], "inner")
           .groupBy("o_cx", "o_cy")
           .agg(F.count(F.lit(1)).alias("w_i"),
                F.sum("dev_j").alias("lsum")))

    den = dev.agg(F.sum(F.col("dev").cast("decimal(38,0)")
                        * F.col("dev").cast("decimal(38,0)"))
                  .alias("den_d"))
    j = (dev.join(nbr, (F.col("cx") == F.col("o_cx"))
                  & (F.col("cy") == F.col("o_cy")), "left")
         .crossJoin(F.broadcast(den)))
    w_i = F.coalesce(F.col("w_i"), F.lit(0)).cast("long")
    lsum = F.coalesce(F.col("lsum"), F.lit(0)).cast("long")
    num = (F.col("n").cast("decimal(38,0)")
           * F.col("dev").cast("decimal(38,0)")
           * lsum.cast("decimal(38,0)"))
    lisa = F.when(F.col("den_d") != 0,
                  F.round(num.cast("double")
                          / F.col("den_d").cast("double"), 9))
    return j.select(F.col("cx").alias("cell_x"),
                    F.col("cy").alias("cell_y"),
                    "x", w_i.alias("w_i"), F.col("dev").alias("dev"),
                    lsum.alias("lsum"), lisa.alias("lisa_i"))


def join_counts(cells: DataFrame, x_col: str = "n",
                cx_col: str = "cell_x",
                cy_col: str = "cell_y") -> DataFrame:
    """Join-count statistics (Cliff & Ord) over the rook lattice for
    the binary field "cell above the global mean" — the categorical
    autocorrelation test (BB joins ≫ expected ⇒ hot cells clump):

        black_i  ⇔  N·x_i > S        (exact integer mean compare)

    then BB / BW / WW = unordered adjacent pairs by the endpoint
    colors. Every ordered rook pair appears twice, so the halves are
    exact integers; the whole result is integer-only (trivially
    engine-exact — no float anywhere).

    One ``lattice.scatter`` rook equi-join + one global census.
    Output: (n_cells, n_black, w_pairs, bb, bw, ww) — w_pairs is the
    ORDERED pair count (= 2W), bb+bw+ww = w_pairs/2.
    """
    base = cells.select(F.col(cx_col).alias("cx"),
                        F.col(cy_col).alias("cy"),
                        F.col(x_col).cast("long").alias("x"))
    tot = base.agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("s"))
    b = (base.crossJoin(F.broadcast(tot))
         .select("cx", "cy",
                 (F.col("n") * F.col("x") > F.col("s"))
                 .cast("int").alias("black"),
                 "n"))

    pairs = (scatter(b, ["cx", "cy"], ROOK, F.col("black").alias("b_i"))
             .join(b.select("cx", "cy", F.col("black").alias("b_j")),
                   ["cx", "cy"], "inner"))
    agg = pairs.agg(
        F.count(F.lit(1)).alias("w_pairs"),
        (F.sum(F.col("b_i") * F.col("b_j")) / 2).cast("long").alias("bb"),
        (F.sum((F.col("b_i") + F.col("b_j")) % 2) / 2).cast("long")
        .alias("bw"),
        (F.sum((1 - F.col("b_i")) * (1 - F.col("b_j"))) / 2)
        .cast("long").alias("ww"))
    blacks = b.agg(F.sum("black").alias("n_black"),
                   F.max("n").alias("n_cells"))
    return (blacks.crossJoin(agg)
            .select(F.col("n_cells").cast("long").alias("n_cells"),
                    F.col("n_black").cast("long").alias("n_black"),
                    F.col("w_pairs").cast("long").alias("w_pairs"),
                    "bb", "bw", "ww"))


def getis_general_g(cells: DataFrame, x_col: str = "n",
                    cx_col: str = "cell_x", cy_col: str = "cell_y",
                    ring: int = 1) -> DataFrame:
    """Getis-Ord General G — the GLOBAL companion to the per-cell
    ``getis_ord_gi_star``: do HIGH values cluster (G above its
    expectation W/(N(N−1))), as opposed to Moran's I which clusters
    deviations of either sign. Binary queen weights over the Chebyshev
    ``ring``, self EXCLUDED (the non-star convention):

        G = Σ_{i≠j} w_ij x_i x_j / Σ_{i≠j} x_i x_j

    Numerator: within-ring ordered products (one ``lattice.scatter``
    to the (2r+1)²−1 offsets + equi-join); denominator: (Σx)² − Σx²
    — both exact decimal(38,0) integers, ONE final division rounded
    9 dp.
    Output one row: (n_cells, w_pairs, num, den, general_g); NULL G
    when the denominator is 0 (≤1 nonzero cell) or no adjacency.
    """
    base = cells.select(F.col(cx_col).alias("cx"),
                        F.col(cy_col).alias("cy"),
                        F.col(x_col).cast("long").alias("x"))
    xd = F.col("x").cast("decimal(38,0)")
    tot = base.agg(F.count(F.lit(1)).alias("n_cells"),
                   F.sum(xd).alias("s_d"),
                   F.sum(xd * xd).alias("q_d"))

    left = scatter(base, ["cx", "cy"], block(ring, centre=False),
                   F.col("x").alias("x_i"))
    pairs = left.join(base.select("cx", "cy", F.col("x").alias("x_j")),
                      ["cx", "cy"], "inner")
    num = pairs.agg(
        F.count(F.lit(1)).alias("w_pairs"),
        F.coalesce(F.sum(F.col("x_i").cast("decimal(38,0)")
                         * F.col("x_j").cast("decimal(38,0)")),
                   F.lit(0).cast("decimal(38,0)")).alias("num_d"))
    out = tot.crossJoin(num)
    den_d = F.col("s_d") * F.col("s_d") - F.col("q_d")
    g = F.when((den_d != 0) & (F.col("w_pairs") > 0),
               F.round(F.col("num_d").cast("double")
                       / den_d.cast("double"), 9))
    return out.select(
        F.col("n_cells").cast("long").alias("n_cells"),
        F.col("w_pairs").cast("long").alias("w_pairs"),
        F.col("num_d").cast("long").alias("num"),
        den_d.cast("long").alias("den"),
        g.alias("general_g"))


def bivariate_morans_i(cells: DataFrame, x_col: str = "x",
                       y_col: str = "y", cx_col: str = "cell_x",
                       cy_col: str = "cell_y") -> DataFrame:
    """Bivariate Moran's I (GeoDa's cross-variable statistic): does
    variable x at a cell co-vary with variable y at its NEIGHBORS —
    e.g. does page density predict neighboring-cell user activity:

        I_xy = (N/W) · Σ_ij w_ij devx_i · devy_j
                     / √(Σ devx²) · √(Σ devy²)

    Same N-scaled exactness as :func:`morans_i` — devx = N·x − Sx,
    devy = N·y − Sy are exact integers and every N² factor cancels
    between the cross-product numerator and the geometric-mean
    denominator; the two sqrt/division ops are the only floats
    (identical exact operands ⇒ identical IEEE result, the gi_star
    √B·√C precedent). Same scale shape: one ``lattice.scatter``
    rook equi-join + combinable aggregations, broadcast one-row totals.

    One-row result: (n_cells, w_pairs, num, den_x, den_y, moran_xy);
    NULL when either field is constant or no adjacency exists.
    """
    base = cells.select(F.col(cx_col).alias("cx"),
                        F.col(cy_col).alias("cy"),
                        F.col(x_col).cast("long").alias("x"),
                        F.col(y_col).cast("long").alias("y"))
    tot = base.agg(F.count(F.lit(1)).alias("n"),
                   F.sum("x").alias("sx"), F.sum("y").alias("sy"))
    dev = (base.crossJoin(F.broadcast(tot))
           .select("cx", "cy",
                   (F.col("n") * F.col("x") - F.col("sx")).alias("devx"),
                   (F.col("n") * F.col("y") - F.col("sy")).alias("devy")))
    left = scatter(dev, ["cx", "cy"], ROOK, F.col("devx").alias("dev_i"))
    right = dev.select("cx", "cy", F.col("devy").alias("dev_j"))
    pairs = left.join(right, ["cx", "cy"], "inner")
    num = pairs.agg(
        F.count(F.lit(1)).alias("w_pairs"),
        F.coalesce(F.sum(F.col("dev_i").cast("decimal(38,0)")
                         * F.col("dev_j").cast("decimal(38,0)")),
                   F.lit(0).cast("decimal(38,0)")).alias("num_d"))
    den = dev.agg(
        F.sum(F.col("devx").cast("decimal(38,0)")
              * F.col("devx").cast("decimal(38,0)")).alias("dx_d"),
        F.sum(F.col("devy").cast("decimal(38,0)")
              * F.col("devy").cast("decimal(38,0)")).alias("dy_d"))
    out = (tot.select(F.col("n").alias("n_cells"))
           .crossJoin(num).crossJoin(den))
    moran = F.when(
        (F.col("dx_d") != 0) & (F.col("dy_d") != 0) & (F.col("w_pairs") > 0),
        (F.col("n_cells").cast("double") / F.col("w_pairs").cast("double"))
        * (F.col("num_d").cast("double")
           / (F.sqrt(F.col("dx_d").cast("double"))
              * F.sqrt(F.col("dy_d").cast("double")))))
    return out.select(
        "n_cells", "w_pairs",
        F.col("num_d").cast("long").alias("num"),
        F.col("dx_d").cast("long").alias("den_x"),
        F.col("dy_d").cast("long").alias("den_y"),
        F.round(moran, 9).alias("moran_xy"))
