"""Warehouse point layout: OSM-native 1e-7° fixed-point int32 coordinates.

OSM coordinates are fixed-point by definition: the PBF format stores
latitude as integer nanodegree offsets (``lat = (off + g·x)/1e9``,
reference lib/pbfParser.js:341-349 via decode.py:307-308) and the OSM API
rounds to 1e-7° — so every coordinate this engine decodes is an integer
multiple of 1e-7°. Storing ``round(lat·1e7)`` as int32 is therefore
LOSSLESS for PBF-decoded data (±180° spans ±1.8e9, inside int32), and the
reconstruction ``lat_q / 1e7`` is bit-identical to the decoder's output:
both are the correctly-rounded double of the same rational n·1e-7
(the divisors 1e7 and 1e9 are exact doubles; the int numerators < 2^53).
Dividing — NOT multiplying by the inexact double 1e-7 — is what makes the
round-trip exact; a test pins it on the golden fixtures.

Why bother at 100 TB: the (lat, lon) pair shrinks 16 → 8 bytes before
encoding, and scan-heavy stages (tile encode, PIP prefilter, kNN candidate
scan) are bandwidth-bound at high core counts — on this host the hex-tile
scan-agg saturates DRAM near 16 threads (BENCH/host_calibration.json), so
halving bytes directly lifts the multi-core ceiling.
``write_points_zordered`` additionally range-partitions + sorts by a
Z-order key: spatially local rows give parquet's int codecs small deltas
and make the per-row-group min/max statistics tight, so a bbox predicate
(``read_bbox``) prunes row groups.
``with_hilbert_key`` is the locality-optimal sort key for the same
layout; ``write_events_day_partitioned`` is the time-axis layout.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..grid.geohash_sql import _spread_bits

__all__ = ["quantize_points", "dequantize_points",
           "hilbert_level_sql", "with_hilbert_key",
           "zorder_col", "write_points_zordered", "read_bbox",
           "write_events_day_partitioned", "read_events_range"]

_SCALE = 1e7  # 1e-7° — OSM API precision; exact double


def quantize_points(points: DataFrame, lat_col: str = "lat",
                    lon_col: str = "lon") -> DataFrame:
    """lat/lon doubles → 1e-7° fixed-point int32 (other columns pass
    through). Round-to-nearest keeps sub-centimeter worst-case error for
    non-OSM inputs; exact for OSM-decoded coordinates."""
    cols = [c for c in points.columns if c not in (lat_col, lon_col)]
    return points.select(
        *cols,
        F.round(F.col(lat_col) * _SCALE).cast("int").alias("lat_q"),
        F.round(F.col(lon_col) * _SCALE).cast("int").alias("lon_q"))


def dequantize_points(df: DataFrame, lat_col: str = "lat",
                      lon_col: str = "lon") -> DataFrame:
    """Reconstruct doubles IN THE SCAN PROJECTION (whole-stage codegen):
    downstream operators see plain lat/lon; parquet only ships int32."""
    cols = [c for c in df.columns if c not in ("lat_q", "lon_q")]
    return df.select(
        *cols,
        (F.col("lat_q").cast("double") / F.lit(_SCALE)).alias(lat_col),
        (F.col("lon_q").cast("double") / F.lit(_SCALE)).alias(lon_col))


def zorder_col(lat_q: Column, lon_q: Column) -> Column:
    """Morton (Z-order) sort key over the fixed-point coordinates.

    Both int32 axes shift to unsigned and drop one low bit (31 bits
    each — the key orders the LAYOUT, data precision is untouched), so
    the interleave fits the 62 positive bits of a long and plain signed
    ordering is Z-curve ordering. Pure codegen via the geohash module's
    magic-number spread."""
    lat_u = F.shiftrightunsigned(lat_q.cast("long") + F.lit(1 << 31), 1)
    lon_u = F.shiftrightunsigned(lon_q.cast("long") + F.lit(1 << 31), 1)
    return F.shiftleft(_spread_bits(lat_u), 1).bitwiseOR(_spread_bits(lon_u))


def write_points_zordered(points: DataFrame, path: str,
                          partitions: int | None = None,
                          lat_col: str = "lat", lon_col: str = "lon",
                          row_group_bytes: int | None = None) -> None:
    """Fixed-point layout range-partitioned + sorted by Z-order key.

    Why Z-order rather than a 1-D sort by one hex cell id: the
    Z-curve bounds BOTH axes in every file/row group, so parquet min/max
    stats on the RAW ``lat_q``/``lon_q`` columns are simultaneously
    tight — an arbitrary pushed-down bbox predicate
    (``lat_q BETWEEN … AND lon_q BETWEEN …``) prunes to
    O(perimeter/curve-jumps) of the row groups with no derived cell
    column or grid resolution chosen at query time. This is the
    standard lakehouse OPTIMIZE ZORDER BY layout, built from the same
    public Morton arithmetic as the geohash encoder. One range shuffle
    at write time; tests/test_layout.py pins >80% of row groups pruned
    for a 5°×5° bbox at 200k rows AND that the pushed predicate reaches
    the scan."""
    q = quantize_points(points, lat_col, lon_col)
    q = q.withColumn("_z", zorder_col(F.col("lat_q"), F.col("lon_q")))
    n = partitions or q.sparkSession.sparkContext.defaultParallelism * 4
    q = (q.repartitionByRange(n, "_z")
         .sortWithinPartitions("_z")
         .drop("_z"))
    writer = q.write.mode("overwrite")
    if row_group_bytes is not None:
        writer = writer.option("parquet.block.size", str(row_group_bytes))
    writer.parquet(path)


def read_bbox(spark: SparkSession, path: str,
              lat_min_q: int, lat_max_q: int,
              lon_min_q: int, lon_max_q: int,
              lat_col: str = "lat", lon_col: str = "lon") -> DataFrame:
    """Scan a fixed-point layout restricted to a quantized bbox
    (inclusive bounds, 1e-7° units). The filter lands on the stored
    int32 columns BEFORE dequantization so it pushes down to parquet
    row-group stats — on a Z-ordered layout that is the pruning path.
    """
    df = spark.read.parquet(path).filter(
        (F.col("lat_q") >= F.lit(int(lat_min_q)))
        & (F.col("lat_q") <= F.lit(int(lat_max_q)))
        & (F.col("lon_q") >= F.lit(int(lon_min_q)))
        & (F.col("lon_q") <= F.lit(int(lon_max_q))))
    return dequantize_points(df, lat_col, lon_col)


def write_events_day_partitioned(events: DataFrame, path: str,
                                 ts_col: str = "ts",
                                 files_per_day: int = 1) -> None:
    """Event-log warehouse layout: hive-partitioned by calendar DAY,
    rows sorted on the timestamp within each file.

    The time axis is the third member of the layout family (bucketed
    node-id joins, Z-ordered bboxes, day-partitioned time ranges): a
    time-range predicate prunes whole day directories at PLANNING time
    (PartitionFilters — zero IO for skipped days, the Iceberg
    partition-spec equivalent), and the in-file ts sort gives row-group
    min/max pruning within the boundary days. At 10^12 events this is
    the difference between scanning 3 days and scanning 3 years.
    """
    df = events.withColumn("day", F.date_format(F.col(ts_col),
                                                "yyyy-MM-dd"))
    (df.repartition(files_per_day, F.col("day"))
     .sortWithinPartitions("day", ts_col)
     .write.mode("overwrite").partitionBy("day").parquet(path))


def read_events_range(spark: SparkSession, path: str,
                      start_day: str, end_day: str) -> DataFrame:
    """Day-range read over the partitioned layout: the BETWEEN on the
    partition column resolves against directory names only (plan shows
    PartitionFilters, no data filter) — inclusive bounds.

    Partition-type inference reads ``day`` back as DATE; the filter runs
    on that (prunable) column and the output normalizes it back to the
    'yyyy-MM-dd' string the writer derived."""
    df = spark.read.parquet(path)
    return (df.filter((F.col("day") >= start_day)
                      & (F.col("day") <= end_day))
            .withColumn("day", F.date_format(F.col("day"), "yyyy-MM-dd")))


# ---------------------------------------------------------------------------
# Hilbert-curve layout key
# ---------------------------------------------------------------------------

def hilbert_level_sql(s: int, x: str, y: str, d: str) -> tuple[str, str, str]:
    """Dialect-neutral SQL for ONE level of the classic xy→d Hilbert
    walk (the Wikipedia/Warren formulation), operating on nonnegative
    integer columns ``x``/``y`` (low bits < 2·s) and the distance
    accumulator ``d``. Returns (x', y', d') expression strings valid
    verbatim in BOTH Spark SQL and DuckDB: integer division spelled as
    the exact ``CAST((v - v % s) / s)`` (no dialect-specific ``div``
    vs ``//``), quadrant and rotation as CASE — so the engine stage
    and the oracle are generated from the SAME text and cannot drift.

    Per level: rx/ry = bit s of x/y; the quadrant index (3·rx)⊕ry
    scales by s²; when ry = 0 the low bits reflect (rx = 1) and swap.
    Clamping to ``% s`` each level keeps every value nonnegative, so
    C-style ``%`` (Spark = DuckDB) equals mathematical mod throughout.
    """
    rx = f"(CAST(({x} - {x} % {s}) / {s} AS BIGINT) % 2)"
    ry = f"(CAST(({y} - {y} % {s}) / {s} AS BIGINT) % 2)"
    xl = f"({x} % {s})"
    yl = f"({y} % {s})"
    quad = (f"(CASE WHEN {rx} = 0 AND {ry} = 0 THEN 0 "
            f"WHEN {rx} = 0 THEN 1 WHEN {ry} = 1 THEN 2 ELSE 3 END)")
    d2 = f"({d} + CAST({s * s} AS BIGINT) * {quad})"
    x2 = (f"(CASE WHEN {ry} = 1 THEN {xl} "
          f"WHEN {rx} = 1 THEN {s} - 1 - {yl} ELSE {yl} END)")
    y2 = (f"(CASE WHEN {ry} = 1 THEN {yl} "
          f"WHEN {rx} = 1 THEN {s} - 1 - {xl} ELSE {xl} END)")
    return x2, y2, d2


def with_hilbert_key(df: DataFrame, lat_col: str = "lat",
                     lon_col: str = "lon", order: int = 16,
                     out_col: str = "hkey") -> DataFrame:
    """Hilbert-curve sort key over an ``order``-bit-per-axis grid
    (default 65536×65536 ≈ 600 m cells at the equator — layout
    granularity, data precision untouched).

    Why next to ``zorder_col``: the Hilbert curve is the locality
    OPTIMUM among space-filling curves — unlike the Z-curve it has no
    long diagonal jumps, so consecutive key ranges are contiguous grid
    neighborhoods and bbox row-group pruning tightens further (every
    curve segment's bbox is a compact quad, not a Z-shaped straddle).
    The cost is the 16-level state walk instead of one magic-number
    interleave; built STAGED (one narrow select per level, columns
    re-referenced by NAME) so Catalyst keeps the plan linear instead
    of substituting the level expressions into an exponential tree —
    the tiles.py staged-column discipline. All levels are pure JVM
    codegen; no shuffle, no Python.
    """
    cell = 1 << (32 - order)
    keep = [c for c in df.columns]
    lat_u = (F.round(F.col(lat_col) * F.lit(1e7)).cast("long")
             + F.lit(1 << 31))
    lon_u = (F.round(F.col(lon_col) * F.lit(1e7)).cast("long")
             + F.lit(1 << 31))
    out = df.select(
        *keep,
        ((lat_u - lat_u % cell) / cell).cast("long").alias("_hx"),
        ((lon_u - lon_u % cell) / cell).cast("long").alias("_hy"),
        F.lit(0).cast("long").alias("_hd"))
    for lvl in range(order - 1, -1, -1):
        x2, y2, d2 = hilbert_level_sql(1 << lvl, "_hx", "_hy", "_hd")
        out = out.select(*keep,
                         F.expr(x2).cast("long").alias("_hx"),
                         F.expr(y2).cast("long").alias("_hy"),
                         F.expr(d2).cast("long").alias("_hd"))
    return out.select(*keep, F.col("_hd").alias(out_col))
