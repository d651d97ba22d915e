"""Mergeable count-min frequency sketch (point-query heavy-hitter
counts without a full census).

The frequency primitive that completes the sketch family
(``cardinality.py`` HLL answers "how many distinct", ``membership.py``
Bloom answers "seen before?"): "roughly how often does THIS value
occur?" over a 10^12-token corpus whose exact (group, value) census is
unpayable to keep around. Sketch state is ``depth × width`` counters
per group REGARDLESS of distinct-value count — partial sketches from
different partitions, days, or clusters merge by counter-wise SUM and
never need the raw values again. A point query reads ``depth``
counters and takes their min: never an underestimate, overestimates
bounded by (e/width)·total_count with probability 1 − exp(−depth).

Exactness discipline (repo rule: floats only where pinned): counter
indices come from the established md5 bridge
(``('0x'||substr(md5(v||':cms<seed>:<r>'),1,15))::BIGINT % width`` in
any engine), one salt per hash row; counters and estimates are pure
int64 — the module contains NO float operation, so a DuckDB oracle
reproduces every register and every estimate hash-exact.

Scale shape: ``cms_build`` is one combinable count aggregation (a
10^12-row group costs depth·width rows in the shuffle, not its row
count); ``cms_point_query`` explodes each probe to its depth
positions, equi-joins the registers, and min-reduces — probes never
touch the raw corpus.

Reference scope note: marook/osm-read stops at entity decode
(lib/pbfParser.js); frequency sketching is consumer-side curation the
graft adds on the webtext axis, same as dedup/ANN/HLL/Bloom.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

__all__ = ["cms_positions", "cms_build", "cms_point_query"]


def _cms_j(value: Column, r: int, width: int, seed: int) -> Column:
    """Counter index of ``value`` in hash row ``r``: first-60-bits
    (md5(value ':cms<seed>:<r>')) mod width — the portable salted-md5
    bridge shared with the Bloom/HLL sketches."""
    h = F.conv(F.substring(
        F.md5(F.concat(value.cast("string"), F.lit(f":cms{seed}:{r}"))),
        1, 15), 16, 10).cast("long")
    return (h % width).cast("int")


def cms_positions(value: Column, depth: int, width: int,
                  seed: int = 1) -> Column:
    """``array<struct<r:int, j:int>>`` — the depth counters a value
    touches, one per salted hash row."""
    return F.array(*[
        F.struct(F.lit(r).cast("int").alias("r"),
                 _cms_j(value, r, width, seed).alias("j"))
        for r in range(depth)])


def cms_build(df: DataFrame, group_cols: list[str], value_col: str,
              depth: int = 4, width: int = 512, seed: int = 1,
              weight_col: str | None = None) -> DataFrame:
    """Per-group sketch state: (group..., r, j, c) — only POPULATED
    counters appear (absent ones are implicit 0). One combinable sum
    aggregation. NULL values are skipped (no frequency question);
    ``weight_col`` counts each row that many times (e.g. a
    pre-aggregated (value, n) census)."""
    w = (F.col(weight_col).cast("long") if weight_col
         else F.lit(1).cast("long"))
    rows = (df.filter(F.col(value_col).isNotNull())
            .select(*group_cols, w.alias("_w"),
                    F.explode(cms_positions(F.col(value_col), depth,
                                            width, seed)).alias("_p")))
    return (rows.groupBy(*group_cols, F.col("_p.r").alias("r"),
                         F.col("_p.j").alias("j"))
            .agg(F.sum("_w").alias("c")))


def cms_point_query(probes: DataFrame, sketch: DataFrame, value_col: str,
                    group_cols: list[str], depth: int = 4, width: int = 512,
                    seed: int = 1, out: str = "est") -> DataFrame:
    """Estimated count per probe row: min over the probe's depth
    counters, 0 when a counter row is absent. Never an underestimate
    of the true count. Probes keep all their columns; the sketch side
    is the (bounded) register table — broadcast it when small."""
    pos = (probes.select(*probes.columns,
                         F.explode(cms_positions(F.col(value_col), depth,
                                                 width, seed)).alias("_p"))
           .select(*probes.columns, F.col("_p.r").alias("r"),
                   F.col("_p.j").alias("j")))
    hit = pos.join(sketch.withColumnRenamed("c", "_c"),
                   [*group_cols, "r", "j"], "left")
    return (hit.groupBy(*probes.columns)
            .agg(F.min(F.coalesce(F.col("_c"), F.lit(0).cast("long")))
                 .alias(out)))
