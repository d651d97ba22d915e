"""Checkpoint/resume (lineage) + streaming decode tests."""

import pyspark.sql.functions as F
import pytest

from osmspark.state import StateStore, run_stage


def test_resume_skips_completed_units(spark, tmp_path, pages_df):
    from osmspark.pbf.source import nodes_from_pages

    store = StateStore(spark, str(tmp_path / "state"))
    nodes = nodes_from_pages(pages_df)

    calls = []

    def compute(unit):
        calls.append(unit)
        return nodes.filter(F.col("url").endswith(f"/{unit}"))

    units = ["0", "2", "3"]
    r1 = run_stage(store, "pertile", units, compute,
                   out_root=str(tmp_path / "out"))
    assert r1["computed"] == units and r1["skipped"] == []

    # "kill and restart": same stage again → all units skipped, no recompute
    calls.clear()
    r2 = run_stage(store, "pertile", units, compute,
                   out_root=str(tmp_path / "out"))
    assert r2["computed"] == [] and sorted(r2["skipped"]) == units
    assert calls == []

    # extend with one new unit → only that one computes
    r3 = run_stage(store, "pertile", units + ["4"], compute,
                   out_root=str(tmp_path / "out"))
    assert r3["computed"] == ["4"]

    # lineage metrics: row counts add up to decoded rows per unit
    met = store.metrics("pertile").collect()[0]
    assert met.n_units == 4
    expected = nodes.filter(
        F.col("url").rlike("/(0|2|3|4)$")).count()
    assert met.total_rows == expected


def test_lineage_rows_are_append_only(spark, tmp_path, pages_df):
    store = StateStore(spark, str(tmp_path / "state2"))
    store.append([{"stage": "s", "unit": "u1", "row_count": 10,
                   "wall_ms": 5, "status": "ok", "finished_at_ms": 1}])
    store.append([{"stage": "s", "unit": "u2", "row_count": 20,
                   "wall_ms": 5, "status": "ok", "finished_at_ms": 2}])
    assert store.lineage().count() == 2
    assert {r.unit for r in store.completed_units("s").collect()} == {"u1", "u2"}


def test_run_stage_units_run_concurrently(spark, tmp_path):
    """≥2 units must be in flight at once (driver thread pool submits
    concurrent Spark jobs), and a mid-flight failure must leave only
    successful units in lineage so the rerun recomputes the rest."""
    import threading
    import time as _time

    store = StateStore(spark, str(tmp_path / "state3"))
    active, seen_max, lock = [0], [0], threading.Lock()

    def compute(unit):
        with lock:
            active[0] += 1
            seen_max[0] = max(seen_max[0], active[0])
        _time.sleep(0.4)
        with lock:
            active[0] -= 1
        return spark.range(int(unit) + 1).select(
            F.col("id").alias("v"))

    units = [str(i) for i in range(6)]
    r = run_stage(store, "conc", units, compute,
                  out_root=str(tmp_path / "out3"), max_workers=4)
    assert r["computed"] == units
    assert seen_max[0] >= 2

    # failure path: unit "9" raises -> run_stage raises, but "7"/"8"
    # complete and persist; the rerun computes only the failed unit
    def flaky(unit):
        if unit == "9":
            raise ValueError("boom")
        return spark.range(2).select(F.col("id").alias("v"))

    with pytest.raises(ValueError):
        run_stage(store, "flaky", ["7", "8", "9"], flaky,
                  out_root=str(tmp_path / "out3"), max_workers=1)
    done = {r_.unit for r_ in store.completed_units("flaky").collect()}
    assert done == {"7", "8"}
    r2 = run_stage(store, "flaky", ["7", "8", "9"],
                   lambda u: spark.range(2).select(F.col("id").alias("v")),
                   out_root=str(tmp_path / "out3"), max_workers=2)
    assert r2["computed"] == ["9"] and sorted(r2["skipped"]) == ["7", "8"]


def test_run_stage_failure_cancels_queued(spark, tmp_path):
    """First failure cancels QUEUED units: with 1 worker, a failure in
    the second unit means the third never starts (no compute call, no
    lineage row) — the rerun recomputes exactly failed + cancelled."""
    store = StateStore(spark, str(tmp_path / "state4"))
    calls = []

    def compute(unit):
        calls.append(unit)
        if unit == "b":
            raise ValueError("boom")
        return spark.range(1).select(F.col("id").alias("v"))

    with pytest.raises(ValueError):
        run_stage(store, "cancel", ["a", "b", "c"], compute,
                  out_root=str(tmp_path / "out4"), max_workers=1)
    assert calls == ["a", "b"]  # "c" was queued and never started
    done = {r.unit for r in store.completed_units("cancel").collect()}
    assert done == {"a"}
    r2 = run_stage(store, "cancel", ["a", "b", "c"],
                   lambda u: spark.range(1).select(F.col("id").alias("v")),
                   out_root=str(tmp_path / "out4"), max_workers=1)
    assert r2["computed"] == ["b", "c"] and r2["skipped"] == ["a"]


def test_streaming_decode_counts(spark, tmp_path, pages_df):
    """Micro-batch streaming decode == batch decode (maxFilesPerTrigger
    backpressure = the reference's pause/resume analogue)."""
    from osmspark.pbf.source import nodes_from_pages
    from osmspark.streaming import stream_nodes, stream_pages

    src = str(tmp_path / "pages_stream")
    pages_df.repartition(3).write.mode("overwrite").parquet(src)
    batch_count = nodes_from_pages(spark.read.parquet(src)).count()

    nodes = stream_nodes(stream_pages(spark, src, max_files_per_trigger=1))
    q = (nodes.writeStream.format("memory").queryName("nodes_stream")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(300)
    got = spark.sql("SELECT count(*) FROM nodes_stream").collect()[0][0]
    assert got == batch_count
    # more than one micro-batch ran (block-granularity progress)
    assert len(q.recentProgress) >= 2


def test_streaming_windowed_sink_kill_resume_no_recompute(spark, tmp_path):
    """Streaming × lineage: a windowed tile-count stream killed (stop())
    and restarted from the same checkpoint resumes WITHOUT recomputing
    emitted windows — each window's lineage row stays unique, its unit
    parquet stays intact, and a replayed foreachBatch is a no-op."""
    import pandas as pd

    from osmspark.state import StateStore
    from osmspark.streaming import (
        make_windowed_sink_batch_writer,
        sink_windowed_tiles,
        stream_windowed_tile_counts,
    )

    src = tmp_path / "nodes_src"
    ckpt = str(tmp_path / "ckpt2")
    out = str(tmp_path / "win_out")
    store = StateStore(spark, str(tmp_path / "state_stream"))
    h = 3_600_000
    base = 1735689600000  # 2025-01-01T00:00:00Z, on a 10-min boundary

    def write(rows):
        pdf = pd.DataFrame(rows, columns=["timestamp_ms", "lat", "lon"])
        (spark.createDataFrame(pdf)
         .coalesce(1).write.mode("append").parquet(str(src)))

    def windowed():
        stream = (spark.readStream
                  .schema("timestamp_ms long, lat double, lon double")
                  .option("maxFilesPerTrigger", "1")
                  .parquet(str(src)))
        return stream_windowed_tile_counts(stream, res=7,
                                           window="10 minutes",
                                           watermark="30 minutes")

    # run 1: window A ([00:00,00:10), 4 rows in 2 cells) in file 1; a
    # 01:00 row in file 2 advances the watermark past A's end, so A
    # emits; the 01:00 window F stays open (un-emitted) at the kill
    write([(base + i * 60_000, 51.5, -0.12) for i in range(3)]
          + [(base + 60_000, 48.85, 2.35)])
    write([(base + h, 51.5, -0.12)])
    q = sink_windowed_tiles(windowed(), store, out, ckpt,
                            available_now=False)
    q.processAllAvailable()
    q.stop()  # the kill

    unit_a, unit_f = str(base), str(base + h)
    done1 = {r.unit for r in
             store.completed_units("windowed_tiles").collect()}
    assert done1 == {unit_a}
    a_rows = sorted((r["cell"], r["n_points"]) for r in
                    spark.read.parquet(out)
                    .filter(F.col("unit") == base).collect())
    assert sorted(n for _, n in a_rows) == [1, 3]  # Paris 1, London 3

    # run 2 (the restart): one more file at 02:00 closes window F; A is
    # NOT recomputed — same checkpoint, offsets already committed
    write([(base + 2 * h, 51.5, -0.12)])
    q2 = sink_windowed_tiles(windowed(), store, out, ckpt,
                             available_now=False)
    q2.processAllAvailable()
    q2.stop()
    per_unit = {r["unit"]: r["n"] for r in
                store.lineage().filter(F.col("stage") == "windowed_tiles")
                .groupBy("unit").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert per_unit == {unit_a: 1, unit_f: 1}  # one lineage row per window
    a_rows2 = sorted((r["cell"], r["n_points"]) for r in
                     spark.read.parquet(out)
                     .filter(F.col("unit") == base).collect())
    assert a_rows2 == a_rows  # window A's unit untouched by the resume

    # replayed batch (kill mid-commit → foreachBatch re-runs): no-op
    writer = make_windowed_sink_batch_writer(store, out, "windowed_tiles")
    # materialize the batch (a real foreachBatch batch is never backed by
    # the sink's own files — lazily re-reading them after the first
    # overwrite would read deleted parquet)
    replay_pdf = (spark.read.parquet(out)
                  .filter(F.col("unit") == base).drop("unit").toPandas())
    replay = spark.createDataFrame(replay_pdf)
    writer(replay, 99)
    writer(replay, 99)
    per_unit3 = {r["unit"]: r["n"] for r in
                 store.lineage().filter(F.col("stage") == "windowed_tiles")
                 .groupBy("unit").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert per_unit3 == {unit_a: 1, unit_f: 1}
    a_rows3 = sorted((r["cell"], r["n_points"]) for r in
                     spark.read.parquet(out)
                     .filter(F.col("unit") == base).collect())
    assert a_rows3 == a_rows


def test_streaming_watermark_drops_late_rows(spark, tmp_path):
    """Event-time windowed tile counts (C2 contract): a closed window
    emits exactly once in append mode, and rows arriving later than the
    watermark are dropped (pinned via numRowsDroppedByWatermark)."""
    import pandas as pd

    from osmspark.streaming import stream_windowed_tile_counts

    src = tmp_path / "nodes_stream"
    ckpt = tmp_path / "ckpt"
    h = 3_600_000
    base = 1735689600000  # 2025-01-01T00:00:00Z

    def write(rows):
        pdf = pd.DataFrame(rows, columns=["timestamp_ms", "lat", "lon"])
        (spark.createDataFrame(pdf)
         .coalesce(1).write.mode("append").parquet(str(src)))

    # batch 1: window [00:00, 00:10) gets 5 rows; one row at 01:00
    # advances the watermark past that window's end
    write([(base + i * 60_000, 51.5, -0.12) for i in range(5)]
          + [(base + h, 51.5, -0.12)])

    stream = (spark.readStream
              .schema("timestamp_ms long, lat double, lon double")
              .option("maxFilesPerTrigger", "1")
              .parquet(str(src)))
    agg = stream_windowed_tile_counts(stream, res=7, window="10 minutes",
                                      watermark="30 minutes")
    q = (agg.writeStream.format("memory").queryName("tiles")
         .outputMode("append").option("checkpointLocation", str(ckpt))
         .start())
    try:
        q.processAllAvailable()
        # batch 2: two late rows for the already-closed 00:00 window
        # (late beyond the 30 min watermark: event 00:03 < 00:30) in two
        # DISTINCT cells — map-side partial agg combines same-cell rows
        # before the state store, and the drop counter counts the
        # partial rows that reach it — plus one on-time row
        write([(base + 3 * 60_000, 51.5, -0.12),
               (base + 3 * 60_000, 48.85, 2.35),
               (base + h + 300_000, 51.5, -0.12)])
        q.processAllAvailable()
        dropped = sum(op["numRowsDroppedByWatermark"]
                      for p in q.recentProgress
                      for op in p["stateOperators"])
        out = spark.sql("SELECT * FROM tiles").collect()
    finally:
        q.stop()
    closed = [r for r in out if r.window_start.minute == 0
              and r.window_start.hour == 0]
    assert len(closed) == 1 and closed[0].n_points == 5
    assert dropped == 2
