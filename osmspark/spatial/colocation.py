"""Colocation pattern mining — participation index per category pair.

Shekhar & Huang's spatial-data-mining primitive ("which feature types
occur TOGETHER in space": shops near transit, errors near towers):
for categories a, b the participation ratio PR(a→b) is the fraction
of a-instances with at least one b-instance nearby, and the
participation index PI(a,b) = min(PR(a→b), PR(b→a)) — high PI means
BOTH types consistently co-locate, the prevalence measure that (unlike
a raw pair count) a single dense cluster of one type cannot inflate.

Neighborhood semantics: grid-bucketized — "nearby" = Chebyshev cell
distance ≤ 1 on a ``cell_deg`` lattice (the 3×3 cover this engine's
colocate/knox family uses; the scalable standard — an exact-radius
variant would ride dwithin_meters the same way). Deterministic by
construction.

Exactness: the "has a neighbor" census is a DISTINCT count of exact
integers; each PR is ONE division rounded 9 dp; PI = least() of two
identical-on-both-engines doubles. Scale shape: one 9-offset
``lattice.scatter`` equi-join on the cell key (never all-pairs), two
combinable censuses, and a category-pair join on a table whose size is
|categories|² — broadcastable at any corpus scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..grid.lattice import block, scatter

__all__ = ["colocation_pi"]


def colocation_pi(points: DataFrame, cell_deg: float,
                  cat_col: str = "cat", id_col: str = "id",
                  lat_col: str = "lat",
                  lon_col: str = "lon") -> DataFrame:
    """(cat_a, cat_b, n_a, n_b, n_a_near_b, n_b_near_a, pr_ab, pr_ba,
    pi) for every unordered category pair (cat_a < cat_b) with at
    least one near-relation in either direction.
    """
    inst = points.select(
        F.col(id_col).alias("iid"), F.col(cat_col).alias("cat"),
        F.floor(F.col(lon_col) / F.lit(cell_deg)).cast("long")
        .alias("cx"),
        F.floor(F.col(lat_col) / F.lit(cell_deg)).cast("long")
        .alias("cy"))
    totals = inst.groupBy("cat").agg(F.count(F.lit(1)).alias("n"))

    left = scatter(inst, ["cx", "cy"], block(1), "iid",
                   F.col("cat").alias("cat_i"))
    right = inst.select("cx", "cy", F.col("cat").alias("cat_j"))
    near = (left.join(right, ["cx", "cy"])
            .filter(F.col("cat_i") != F.col("cat_j"))
            .select("iid", "cat_i", "cat_j").distinct())
    pr_counts = (near.groupBy("cat_i", "cat_j")
                 .agg(F.count(F.lit(1)).alias("n_near")))

    ab = (pr_counts.filter(F.col("cat_i") < F.col("cat_j"))
          .select(F.col("cat_i").alias("cat_a"),
                  F.col("cat_j").alias("cat_b"),
                  F.col("n_near").alias("n_a_near_b")))
    ba = (pr_counts.filter(F.col("cat_i") > F.col("cat_j"))
          .select(F.col("cat_j").alias("cat_a"),
                  F.col("cat_i").alias("cat_b"),
                  F.col("n_near").alias("n_b_near_a")))
    pairs = (ab.join(ba, ["cat_a", "cat_b"], "full_outer")
             .select("cat_a", "cat_b",
                     F.coalesce("n_a_near_b", F.lit(0))
                     .cast("long").alias("n_a_near_b"),
                     F.coalesce("n_b_near_a", F.lit(0))
                     .cast("long").alias("n_b_near_a")))
    out = (pairs
           .join(totals.select(F.col("cat").alias("cat_a"),
                               F.col("n").alias("n_a")), "cat_a")
           .join(totals.select(F.col("cat").alias("cat_b"),
                               F.col("n").alias("n_b")), "cat_b"))
    pr_ab = F.round(F.col("n_a_near_b").cast("double")
                    / F.col("n_a").cast("double"), 9)
    pr_ba = F.round(F.col("n_b_near_a").cast("double")
                    / F.col("n_b").cast("double"), 9)
    return out.select(
        "cat_a", "cat_b", "n_a", "n_b", "n_a_near_b", "n_b_near_a",
        pr_ab.alias("pr_ab"), pr_ba.alias("pr_ba"),
        F.least(pr_ab, pr_ba).alias("pi"))
