"""Fixed-point point layout: lossless round-trip for OSM-decoded data,
Z-order bbox pruning, day-partitioned event ranges."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from osmspark.spatial import dequantize_points, quantize_points


def _write_fixedpoint(points, path, partitions=None):
    """quantize_points → parquet, optionally repartitioned (unsorted)."""
    q = quantize_points(points)
    if partitions is not None:
        q = q.repartition(partitions)
    q.write.mode("overwrite").parquet(path)


def _read_fixedpoint(spark, path):
    return dequantize_points(spark.read.parquet(path))


def _golden_nodes(spark, golden_pbf):
    from osmspark.pbf.source import nodes_from_pages

    pages = spark.createDataFrame(
        pd.DataFrame({"url": ["http://x/golden"], "html": [golden_pbf]}))
    return nodes_from_pages(pages).select("id", "lat", "lon")


def test_fixedpoint_roundtrip_bit_exact_on_golden(spark, golden_pbf, tmp_path):
    """PBF-decoded coordinates are integer multiples of 1e-7° (the format
    stores nanodegree ints, granularity 100) — the int32 layout must give
    back the decoder's doubles BIT-exactly, division being correctly
    rounded."""
    nodes = _golden_nodes(spark, golden_pbf)
    path = str(tmp_path / "fp")
    _write_fixedpoint(nodes, path)
    back = _read_fixedpoint(spark, path)
    joined = (nodes.alias("a")
              .join(back.alias("b"), "id")
              .select(F.col("a.lat").alias("la"), F.col("b.lat").alias("lb"),
                      F.col("a.lon").alias("lo"), F.col("b.lon").alias("lob"))
              .toPandas())
    assert len(joined) == nodes.count()
    # bitwise equality, not approx: the layout claims losslessness
    assert (joined["la"].to_numpy() == joined["lb"].to_numpy()).all()
    assert (joined["lo"].to_numpy() == joined["lob"].to_numpy()).all()


def test_fixedpoint_many_nodes_bit_exact(spark, many_nodes_pbf, tmp_path):
    nodes = _golden_nodes(spark, many_nodes_pbf)
    path = str(tmp_path / "fp_many")
    _write_fixedpoint(nodes, path)
    back = _read_fixedpoint(spark, path)
    a = nodes.select("id", "lat", "lon").toPandas().set_index("id").sort_index()
    b = back.select("id", "lat", "lon").toPandas().set_index("id").sort_index()
    assert (a["lat"].to_numpy() == b["lat"].to_numpy()).all()
    assert (a["lon"].to_numpy() == b["lon"].to_numpy()).all()


def test_fixedpoint_schema_is_int32(spark, golden_pbf, tmp_path):
    nodes = _golden_nodes(spark, golden_pbf)
    path = str(tmp_path / "fp_schema")
    _write_fixedpoint(nodes, path)
    raw = spark.read.parquet(path)
    dt = dict(raw.dtypes)
    assert dt["lat_q"] == "int" and dt["lon_q"] == "int"


# ---------------------------------------------------------------------------
# Z-order layout: bbox row-group pruning
# ---------------------------------------------------------------------------

def _rowgroup_stats(path):
    """[(lat_min, lat_max, lon_min, lon_max)] per parquet row group."""
    import glob
    import pyarrow.parquet as pq

    out = []
    for f in glob.glob(f"{path}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        names = [md.schema.column(i).name for i in range(md.num_columns)]
        la, lo = names.index("lat_q"), names.index("lon_q")
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            sa, so = rg.column(la).statistics, rg.column(lo).statistics
            out.append((sa.min, sa.max, so.min, so.max))
    return out


def _overlap_frac(stats, bbox):
    la0, la1, lo0, lo1 = bbox
    hit = sum(1 for (a0, a1, b0, b1) in stats
              if a1 >= la0 and a0 <= la1 and b1 >= lo0 and b0 <= lo1)
    return hit / len(stats)


def _uniform_points(n=200_000, seed=13):
    rng = np.random.default_rng(seed)
    return pd.DataFrame({"id": np.arange(n),
                         "lat": rng.uniform(-85, 85, n),
                         "lon": rng.uniform(-179, 179, n)})


BBOX_Q = (100_000_000, 150_000_000, 200_000_000, 250_000_000)  # 5°x5°


def test_zorder_prunes_row_groups(spark, tmp_path):
    """Z-ordered layout: >80% of row groups have min/max stats disjoint
    from a 5°×5° bbox; the same data written unsorted prunes ~nothing
    (every row group spans the world)."""
    from osmspark.spatial.layout import write_points_zordered

    pts = spark.createDataFrame(_uniform_points())
    zpath, ppath = str(tmp_path / "z"), str(tmp_path / "plain")
    write_points_zordered(pts, zpath, partitions=32)
    _write_fixedpoint(pts, ppath, partitions=32)
    zfrac = _overlap_frac(_rowgroup_stats(zpath), BBOX_Q)
    pfrac = _overlap_frac(_rowgroup_stats(ppath), BBOX_Q)
    assert zfrac < 0.2, f"z-order overlap {zfrac}"
    assert pfrac > 0.9, f"unsorted layout unexpectedly clustered {pfrac}"


def test_zorder_bbox_pushdown_and_exact(spark, tmp_path):
    """read_bbox pushes the int bounds into the parquet scan
    (PushedFilters) and returns exactly the brute-force rows."""
    from osmspark.spatial.layout import read_bbox, write_points_zordered

    pdf = _uniform_points(50_000, seed=14)
    pts = spark.createDataFrame(pdf)
    zpath = str(tmp_path / "z")
    write_points_zordered(pts, zpath, partitions=16)
    la0, la1, lo0, lo1 = BBOX_Q
    got = read_bbox(spark, zpath, la0, la1, lo0, lo1)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters:" in plan and "GreaterThanOrEqual(lat_q" in plan
    gp = got.select("id").toPandas().sort_values("id", ignore_index=True)
    q = pdf.assign(lat_q=np.round(pdf["lat"] * 1e7).astype("int64"),
                   lon_q=np.round(pdf["lon"] * 1e7).astype("int64"))
    exp = q[(q.lat_q >= la0) & (q.lat_q <= la1)
            & (q.lon_q >= lo0) & (q.lon_q <= lo1)]
    assert gp["id"].tolist() == sorted(exp["id"].tolist())
    assert len(gp) > 0


# --- day-partitioned event layout (round 4) ----------------------------

def test_day_partition_pruning(spark, tmp_path):
    """The day BETWEEN must resolve as PartitionFilters (directory-level
    pruning, no data filter on day) and read only the in-range days."""
    import datetime as dt

    from pyspark.sql import functions as F

    from osmspark.spatial.layout import (read_events_range,
                                         write_events_day_partitioned)

    rows = [(i, dt.datetime(2024, 1, 1 + i % 10, 12, 0, 0), float(i))
            for i in range(200)]
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp_ntz, value double")
    path = str(tmp_path / "evday")
    write_events_day_partitioned(ev, path)

    out = read_events_range(spark, path, "2024-01-03", "2024-01-04")
    assert out.count() == 40                      # 2 of 10 days
    assert out.agg(F.min("day"), F.max("day")).collect()[0] == \
        ("2024-01-03", "2024-01-04")

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "day" in plan.split("PartitionFilters:")[1][:200]
    # the day predicate must NOT appear as a post-scan data Filter
    assert "PushedFilters: []" in plan or "PushedFilters" in plan
