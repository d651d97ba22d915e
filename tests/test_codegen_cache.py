"""The generated-class cache holds the engine's working set.

Spark caches compiled generated classes by their source text, so a plan
rebuilt from fresh DataFrames reuses the classes of an identical earlier
plan — unless the cache is smaller than the set of classes cycled
through between the two runs. The chain below generates about 150
classes, more than Spark's default cache of 100, so with the default
the second run recompiles them; with the session's pin it compiles
nothing.

The chain runs with adaptive execution off. AQE turns a sort-merge join
into a broadcast join on whichever side's shuffle finishes first, so a
rerun can plan (and compile) a join variant the first run did not — a
plan choice, not a cache miss. Static plans make the count exact.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from osmspark.graph.cc import cc_labels
from osmspark.spatial import raster_tile_counts, rollup, tile_counts
from osmspark.spatial.hydro import (d8_flow, fill_depressions,
                                    flow_accumulation, watershed_labels)


def _bowls() -> pd.DataFrame:
    """6×6 integer DEM of four 3×3 bowls, one pit each."""
    x = np.arange(6) % 3 - 1
    elev = 4 * (x[:, None] ** 2 + x[None, :] ** 2) + np.arange(6)[None, :] % 2
    ys, xs = np.indices(elev.shape)
    return pd.DataFrame({"cell_x": xs.ravel(), "cell_y": ys.ravel(),
                         "elev": elev.ravel().astype(np.int64)})


def _chain(spark) -> None:
    """Build every DataFrame afresh and run the chain."""
    rng = np.random.default_rng(0)
    points = spark.createDataFrame(pd.DataFrame({
        "id": np.arange(200, dtype=np.int64),
        "lat": rng.uniform(47.0, 48.0, 200),
        "lon": rng.uniform(8.0, 9.0, 200)}))
    dem = spark.createDataFrame(_bowls())
    ids = spark.createDataFrame(pd.DataFrame({"id": np.arange(12, dtype=np.int64)}))
    edges = spark.createDataFrame(pd.DataFrame(
        {"a": [0, 1, 2, 3, 5, 6, 6, 9, 10], "b": [1, 2, 3, 4, 6, 7, 8, 10, 11]}))
    flows = d8_flow(dem).localCheckpoint()
    outs = [rollup(tile_counts(points, 7, grid="hex"), 6, grid="hex"),
            tile_counts(points, 10, grid="s2"),
            raster_tile_counts(points, 8),
            fill_depressions(dem),
            flow_accumulation(dem, flows),
            watershed_labels(dem, flows),
            cc_labels(ids, edges)]
    for df in outs:
        df.collect()


def _compiles(spark) -> int:
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_pinned(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"


@pytest.fixture
def static_plans(spark):
    key = "spark.sql.adaptive.enabled"
    saved = spark.conf.get(key)
    spark.conf.set(key, "false")
    yield
    spark.conf.set(key, saved)


def test_second_run_compiles_nothing(spark, static_plans):
    before = _compiles(spark)
    _chain(spark)
    mid = _compiles(spark)
    _chain(spark)
    assert _compiles(spark) - mid == 0, (
        f"the first run compiled {mid - before} classes and the rerun "
        f"recompiled {_compiles(spark) - mid}")
