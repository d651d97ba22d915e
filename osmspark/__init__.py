"""osmspark — a from-scratch PySpark-native spatial-join + tiling engine.

Re-expresses the capabilities of the reference decoder (marook/osm-read,
a single-threaded node.js OSM XML/PBF parser — see SURVEY.md) as an
idiomatic Spark engine:

* ``osmspark.pbf``      — vectorized (NumPy/Arrow) OSM PBF blob decode
* ``osmspark.xml``      — OSM XML decode to the same schemas (parity)
* ``osmspark.pages``    — deterministic Common-Crawl-style input table
* ``osmspark.grid``     — hex grid (H3 semantics), S2 and geohash cell ids
  as Spark SQL expressions
* ``osmspark.spatial``  — point-in-polygon join, kNN, tile aggregation
* ``osmspark.pipeline`` — dedup / similarity / text-quality operators
* ``osmspark.state``    — per-partition lineage + resume
* ``osmspark.streaming``— Structured Streaming source (pause/resume analogue)

All heavy per-byte work happens inside Arrow-batched UDFs (mapInArrow /
pandas_udf); everything relational stays in the DataFrame API so Catalyst
can push filters, prune columns and pick join strategies.
"""

__version__ = "0.1.0"
