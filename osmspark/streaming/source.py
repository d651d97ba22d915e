"""Structured Streaming over the pages table — the reference's streaming
contract re-expressed.

The reference's stream is a callback pump with pause/resume backpressure
at block granularity (``lib/pbfParser.js:55-103``, SURVEY.md §2.4 C1/C2).
The Spark-native equivalent: a file-source ``readStream`` over the pages
directory with ``maxFilesPerTrigger`` (bounded in-flight work = the
pause/resume analogue; micro-batch boundaries = block boundaries), decode
in the same Arrow UDF as batch, and event-time windowed tile counts with
a watermark, written by the lineage-tracked sink in ``sink.py``.
``endDocument`` ≙ query termination after draining available input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .. import model
from ..pbf.source import _nodes_fn

__all__ = ["stream_pages", "stream_nodes", "stream_windowed_tile_counts"]


def stream_pages(spark: SparkSession, path: str,
                 max_files_per_trigger: int = 1) -> DataFrame:
    """readStream over a pages parquet directory; backpressure via
    maxFilesPerTrigger (block-granularity pause/resume analogue)."""
    return (spark.readStream
            .schema(model.PAGES_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(path))


def stream_nodes(pages_stream: DataFrame) -> DataFrame:
    """Streaming decode — identical UDF as the batch path."""
    return (pages_stream.select("url", "html")
            .mapInArrow(_nodes_fn, model.NODE_SCHEMA))


def stream_windowed_tile_counts(nodes_stream: DataFrame, res: int = 7,
                                window: str = "10 minutes",
                                watermark: str = "30 minutes") -> DataFrame:
    """Event-time windowed tile counts with a watermark — the documented
    C2 contract: late rows beyond ``watermark`` are DROPPED and closed
    windows emit exactly once in append mode, so state is bounded (the
    open-window set) no matter how long the stream runs. Event time is
    the decoded OSM edit timestamp (``timestamp_ms``, DenseInfo D6)."""
    from pyspark.sql import functions as F

    from ..grid.hexgrid_sql import hex_cell_col

    with_ts = (nodes_stream
               .withColumn("event_time",
                           F.timestamp_millis(F.col("timestamp_ms")))
               .withColumn("cell", hex_cell_col(F.col("lat"), F.col("lon"), res)))
    return (with_ts
            .withWatermark("event_time", watermark)
            .groupBy(F.window("event_time", window), F.col("cell"))
            .agg(F.count(F.lit(1)).alias("n_points"))
            .select(F.col("window.start").alias("window_start"),
                    F.col("window.end").alias("window_end"),
                    "cell", "n_points"))
