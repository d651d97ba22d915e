"""SparkSession factory with the engine's scale-oriented defaults."""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager

from pyspark.sql import SparkSession

INFER_FILTERS_RULE = (
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromConstraints")

# process-wide refcount for the scoped rule exclusion below: SQL confs are
# session-global, so overlapping scopes from concurrent driver threads
# (run_stage units each planning a kNN pass) would otherwise race — one
# thread's restore re-enabling the rule mid-action for another
# (reintroducing the 75× JIT cliff) or leaving a stale value behind.
_infer_lock = threading.Lock()
_infer_depth = 0
_infer_saved: str | None = None


@contextmanager
def without_inferred_join_key_filters(spark: SparkSession):
    """Plan actions without InferFiltersFromConstraints.

    That rule clones each join-key expression into an ``isnotnull(key)``
    filter pushed to the scan. For this engine's candidate joins the key
    is the full pure-SQL cell encode — a ~100-node arithmetic tree — so
    the clone doubles the generated code, and with the fixed-point
    layout's ``lat_q/1e7`` dequant inlined into every leaf it pushes the
    stage's generated method past HotSpot's huge-method JIT limit: the
    whole scan runs in the bytecode interpreter. Measured on a 320M-row
    candidate pass (64 queries, res 12, local[16]): 449 s with the rule,
    5.9 s without — identical results, since the key is arithmetic over
    non-null inputs and the inferred filter can never reject a row.

    Scope: wrap the ACTION (planning happens at action time), not the
    DataFrame construction. Thread-safe: overlapping scopes refcount a
    process-wide depth — the rule is excluded from the first enter to the
    last exit, and the pre-existing conf value saved at depth 0 is what
    the last exit restores (pinned by tests/test_session.py).
    """
    global _infer_depth, _infer_saved
    key = "spark.sql.optimizer.excludedRules"
    with _infer_lock:
        if _infer_depth == 0:
            try:
                _infer_saved = spark.conf.get(key)
            except Exception:
                _infer_saved = None
            spark.conf.set(key, INFER_FILTERS_RULE if not _infer_saved
                           else f"{_infer_saved},{INFER_FILTERS_RULE}")
        _infer_depth += 1
    try:
        yield
    finally:
        with _infer_lock:
            _infer_depth -= 1
            if _infer_depth == 0:
                if _infer_saved is None:
                    spark.conf.unset(key)
                else:
                    spark.conf.set(key, _infer_saved)


def _default_driver_memory() -> str:
    """A quarter of physical memory, capped at 24g: a local-mode driver
    heap sized past the host (the old literal 24g on a 15 GB host) lets
    the JVM grow until the host kills it."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{max(1, min(24 << 10, phys // 4 >> 20))}m"


def get_spark(app: str = "osmspark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Session with AQE, Arrow, and sane local-mode memory settings.

    On a real cluster these configs ride through spark-submit unchanged;
    shuffle partitions default to cluster parallelism (AQE coalesces down).
    The driver heap is ``OSMSPARK_DRIVER_MEM`` when set (a deployment
    setting), else a quarter of physical memory capped at 24g.

    The generated-class cache is pinned at 1000 entries. One perfbench
    pass cycles through about 200 distinct generated classes, so with
    Spark's default of 100 the LRU cache missed on every class: a
    steady pass recompiled 202 classes on ``spatial_join`` and 168 on
    ``ingest`` in Janino (about 4 ms each), and every freshly loaded
    class started out interpreted again. 1000 is about 5x the largest
    working set measured for one workload and 2.5x both together. The
    setting is static and JVM-wide: it is read when the first
    SparkContext starts, and this call changes nothing when a
    SparkContext already exists.

    PySpark's DataFrame call-site capture is pinned off: it costs about
    5 py4j round trips per Column call and only adds the Python
    file:line to a DataFrame error's query context. The error class, the
    SQL fragment and every ANSI overflow raise are unchanged.
    """
    master = master or os.environ.get("OSMSPARK_MASTER", "local[*]")
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master == "local[*]" and cpus:
        master = f"local[{cpus}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions",
                str(shuffle_partitions or os.cpu_count() or 32))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # pinned, not inherited from the deployment's default: the exact
        # int64 moments and ranks must raise on overflow, never wrap
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # big Arrow batches: Python-UDF cost is per-batch fixed overhead +
        # per-row work; 4k batches made the PIP refine 5× slower than 64k
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory",
                os.environ.get("OSMSPARK_DRIVER_MEM") or _default_driver_memory())
        .config("spark.python.worker.reuse", "true")
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
