"""osmspark benchmark: one workload, one seed, one closed-loop run.

Usage (from the repository root)::

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

One driver process issues one Spark action at a time on ``local[nproc]``.
Its set-up (``setup_s``) is the session start, the median of
``SETUP_REPS`` seeded input syntheses into fresh directories, and one
untimed warm pass; then it runs passes over the workload's operations for
``--seconds`` (at least ``MIN_PASSES``) and reports the median pass.
``--trace 1`` measures untraced passes for half of ``--seconds`` (at least
one), then restarts the session with the Spark event log on in the same
JVM, starts its Python workers, runs passes for the other half (at least
one) with a job group and a wall clock around every call, and reports
per-layer metrics instead.

Every line but the last is for people: a provenance block and the metrics
by name. The last line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. An operation whose output
breaks an invariant, differs from the pinned or first-seen fingerprint for
the seed, or raises, counts as failed.

Exits 2 without a result when the osmspark package is not next to this
directory.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import platform
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUP_REPS = 2
MIN_PASSES = 1       # a run's wall_s is the median of at least this many passes
DRIVER_MEM = "1g"    # spark.driver.memory; local mode runs executors inside it
DEADLINE_S = 150     # cancel running jobs and stop measuring past this
LAST_PASS_S = 100    # once a phase has a pass, start no other one past this

# per-layer metric -> (spans summed, span field); "s" is the span's wall time
PBF = ("pbf.nodes_from_pages", "pbf.extracted_text_from_pages")
TILES = ("spatial.tiles.hex", "spatial.tiles.s2", "spatial.tiles.raster")
PER_LAYER = {
    "session.get_spark.s": (("session.get_spark",), "s"),
    "pages.write_pages.s": (("pages.write_pages",), "s"),
    "pages.bytes": (("pages.write_pages",), "bytes"),
    "pbf.nodes_from_pages.s": (("pbf.nodes_from_pages",), "s"),
    "pbf.extracted_text_from_pages.s": (("pbf.extracted_text_from_pages",), "s"),
    "pbf.cpu_s": (PBF, "cpu_s"),
    "pbf.python_s": (PBF, "python_s"),
    "pbf.python_in_bytes": (PBF, "python_in_bytes"),
    "pbf.python_out_bytes": (PBF, "python_out_bytes"),
    "pbf.gc_s": (PBF, "gc_s"),
    "state.run_stage.s": (("state.run_stage",), "s"),
    "state.resume.s": (("state.resume",), "s"),
    "state.bytes_written": (("state.run_stage",), "bytes_written"),
    "state.skip_ratio": (("state.resume",), "skip_ratio"),
    "state.jobs": (("state.run_stage",), "jobs"),
    "spatial.tiles.hex.s": (("spatial.tiles.hex",), "s"),
    "spatial.tiles.s2.s": (("spatial.tiles.s2",), "s"),
    "spatial.tiles.raster.s": (("spatial.tiles.raster",), "s"),
    "spatial.tiles.cpu_s": (TILES, "cpu_s"),
    "spatial.tiles.shuffle_bytes": (TILES, "shuffle_bytes"),
    **{f"spatial.pip.{f}": (("spatial.pip",), f)
       for f in ("s", "cpu_s", "python_s", "shuffle_bytes")},
    **{f"spatial.knn.{f}": (("spatial.knn",), f)
       for f in ("s", "jobs", "cpu_s", "shuffle_bytes", "spill_bytes")},
    **{f"spatial.geometry.{f}": (("spatial.geometry",), f) for f in ("s", "shuffle_bytes")},
    **{f"spatial.mapmatch.{f}": (("spatial.mapmatch",), f)
       for f in ("s", "cpu_s", "shuffle_bytes", "spill_bytes")},
    **{f"pipeline.ann.{f}": (("pipeline.ann",), f) for f in ("s", "python_s")},
    **{f"spatial.hydro.{op}.{f}": ((f"spatial.hydro.{op}",), f)
       for op, fs in (("fill", ("s", "jobs")), ("d8", ("s",)),
                      ("accumulation", ("s", "jobs")), ("watershed", ("s", "jobs")))
       for f in fs},
    **{f"graph.cc.{f}": (("graph.cc",), f) for f in ("s", "jobs", "shuffle_bytes")},
    **{f"graph.kcore.{f}": (("graph.kcore",), f)
       for f in ("s", "jobs", "shuffle_bytes", "spill_bytes")},
    **{f"pipeline.dedup.{op}.s": ((f"pipeline.dedup.{op}",), "s")
       for op in ("minhash", "lsh", "clusters")},
    "pipeline.dedup.clusters.jobs": (("pipeline.dedup.clusters",), "jobs"),
}


UNITS = {"wall_s": "s", "rows_per_s": "1/s", "setup_s": "s", "peak_rss_mb": "MB"}


def unit_of(metric: str) -> str:
    if metric in UNITS:
        return UNITS[metric]
    last = metric.rsplit(".", 1)[-1]
    if last == "s" or last.endswith("_s"):
        return "s"
    if last.endswith("bytes") or last == "bytes_written":
        return "bytes"
    if last in ("skip_ratio", "overhead_frac"):
        return "ratio"
    return "count"


# ------------------------------------------------------------- processes

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    kids, out, todo = _children_map(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def cpu_probe_s() -> float:
    """Seconds for a fixed pure-Python loop: tells a slow host phase apart
    from a slow program when runs are compared."""
    t0 = time.perf_counter()
    sum(i * i for i in range(3_000_000))
    return time.perf_counter() - t0


def tree_rss_bytes(root: int) -> int:
    """Resident memory of the process tree, each page counted once: the sum
    of PSS, which splits the pages forked Python workers share with their
    daemon instead of counting them in every worker."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler(threading.Thread):
    """Peak resident memory of this process plus the JVM and its Python workers."""

    def __init__(self, period: float = 0.5):
        super().__init__(daemon=True)
        self.period, self.peak = period, 0
        self._done = threading.Event()

    def run(self) -> None:
        while not self._done.is_set():
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            self._done.wait(self.period)

    def stop(self) -> None:
        self._done.set()
        self.join()


def shutdown_spark() -> None:
    """Stop the session, end the JVM and wait for every process it started."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    pids = [p for p in process_tree(os.getpid()) if p != os.getpid()]
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 30
    while pids and time.time() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _start_python_worker(batches):
    """mapInPandas body that pays a Python worker's first-use costs (imports,
    first NumPy call) and passes its rows through."""
    import numpy as np

    import osmspark.pbf.source  # noqa: F401

    (np.ones((8, 8)) @ np.ones((8, 8))).sum()
    yield from batches


# ------------------------------------------------------------- benchmark

class Bench:
    def __init__(self, workload: str, seed: int, size, work: Path, expected: dict | None):
        import workloads
        from spans import Recorder

        self.wl = workloads.WORKLOADS[workload]
        self.name, self.seed, self.size, self.work = workload, seed, size, work
        self.nproc = len(os.sched_getaffinity(0))
        self.master = f"local[{self.nproc}]"
        self.rec = Recorder()
        self.reference = dict(expected or {})  # op -> fingerprint
        self.results: dict = {}                # op -> first fingerprint seen
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.walls: dict[str, list[float]] = {"pass": [], "traced": []}
        self.cancelled = threading.Event()
        self.ctx = None
        self.t_start = time.time()

    def session(self):
        from osmspark.session import get_spark

        with self.rec.span("session.get_spark"):
            spark = get_spark(app=f"perfbench-{self.name}", master=self.master)
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def new_ctx(self, spark, data: Path):
        import workloads

        self.ctx = workloads.Ctx(spark, self.rec, data, self.seed, self.size, self.nproc)
        return self.ctx

    def run_pass(self, phase: str) -> None:
        from workloads import Mismatch

        ctx, wall = self.ctx, 0.0
        ctx.out.clear()
        for name, op in self.wl.ops:
            if self.cancelled.is_set():
                return
            self.attempted += 1
            err = None
            self.rec.phase = phase
            with self.rec.span(name) as sp:
                try:
                    got = op(ctx, sp)
                except Mismatch as e:
                    err = f"{name}: {e}"
                except Exception as e:  # a failed operation is a result, not a crash
                    err = f"{name}: {type(e).__name__}: {str(e).splitlines()[0][:300]}"
            wall += sp.s
            if err is None:
                self.results.setdefault(name, got)
                want = self.reference.setdefault(name, got)
                if got != want:
                    err = f"{name}: fingerprint {got} != expected {want}"
            if err is not None:
                self.failed += 1
                self.errors.append(f"[{phase}] {err}")
        shutil.rmtree(ctx.data / "passes", ignore_errors=True)
        if phase in self.walls and not self.cancelled.is_set():
            self.walls[phase].append(wall)

    def measure(self, phase: str, seconds: float, min_passes: int) -> None:
        """Passes until ``seconds`` have elapsed and ``min_passes`` have run;
        on a host slow enough to near the deadline, stop after the first."""
        t0 = time.time()
        self.rec.step = 0
        while not self.cancelled.is_set():
            done = len(self.walls[phase])
            if done >= min_passes and time.time() - t0 >= seconds:
                break
            if done and time.time() - self.t_start > LAST_PASS_S:
                break
            self.rec.step += 1
            self.run_pass(phase)

    def setup(self) -> float:
        """Session start, then SETUP_REPS input syntheses into fresh
        directories, then one warm pass: ``setup_s`` is the session start
        plus the median synthesis plus the warm pass."""
        t0 = time.time()
        self.rec.phase = "setup"
        spark = self.session()
        start = time.time() - t0
        synth = []
        for rep in range(SETUP_REPS):
            t0 = time.time()
            self.rec.step = -(rep + 1)
            if rep:
                shutil.rmtree(self.ctx.data, ignore_errors=True)
            ctx = self.new_ctx(spark, self.work / f"rep{rep}")
            self.wl.make(ctx)
            self.wl.load(ctx)
            synth.append(time.time() - t0)
        t0 = time.time()
        self.run_pass("warm")
        warm = time.time() - t0
        self.setup_times = {"session": start, "synthesis": synth, "warm": warm}
        return start + statistics.median(synth) + warm

    def traced_session(self, log_dir: Path):
        """Restart the session with the event log on, set from outside the
        library: JVM system properties become defaults of the next SparkConf.
        The JVM keeps its JIT and generated-code caches from the warm pass;
        only the new session's Python workers start cold, so they are
        started before the traced passes instead of warming a whole pass."""
        self.ctx.spark.stop()
        from pyspark import SparkContext

        log_dir.mkdir(parents=True)
        self.rec.phase = "trace-setup"
        system = SparkContext._jvm.java.lang.System
        for k, v in {"spark.eventLog.enabled": "true", "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.dir": log_dir.as_uri()}.items():
            system.setProperty(k, v)
        spark = self.session()
        ctx = self.new_ctx(spark, self.ctx.data)
        self.wl.load(ctx)
        self.rec.sc = spark.sparkContext
        (spark.range(self.nproc, numPartitions=self.nproc)
         .mapInPandas(_start_python_worker, "id long").count())
        return spark

    def provenance(self, spark) -> dict:
        import pyspark

        return {"workload": self.name, "seed": self.seed, "nproc": self.nproc,
                "master": self.master, "spark": pyspark.__version__,
                "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
                "python": platform.python_version(), "driver_memory": DRIVER_MEM,
                "inputs": self.ctx.sizes, "rows": self.ctx.rows}

    def run(self, seconds: float, trace: bool) -> tuple[dict, dict, dict | None]:
        """(provenance, end-to-end metrics, per-layer metrics if traced)."""
        self.t_start = time.time()
        sampler = RssSampler()
        sampler.start()
        load0, probe0 = os.getloadavg()[0], cpu_probe_s()
        watchdog = threading.Timer(DEADLINE_S, self._cancel)
        watchdog.start()
        try:
            setup_s = self.setup()
            prov = self.provenance(self.ctx.spark)
            if not trace:
                self.measure("pass", seconds, MIN_PASSES)
            else:
                # a traced run also restarts the session: each phase gets
                # half the time, so the run ends well within the deadline
                # even when the host is slow
                self.measure("pass", seconds / 2, 1)
                log_dir = self.work / "eventlog"
                self.traced_session(log_dir)
                self.measure("traced", seconds / 2, 1)
                self.ctx.spark.stop()
                from spans import fold_event_log

                (log,) = log_dir.iterdir()
                traced = [sp for sp in self.rec.spans if sp.phase == "traced"]
                fold_event_log(str(log), traced)
        finally:
            watchdog.cancel()
            shutdown_spark()
            sampler.stop()
        if self.cancelled.is_set():
            self.failed += 1
            self.attempted += 1
            self.errors.append(f"run cancelled at the {DEADLINE_S} s deadline")
        prov.update(load1_before=load0, load1_after=os.getloadavg()[0],
                    cpu_probe_s=[probe0, cpu_probe_s()],
                    setup=self.setup_times, pass_walls=self.walls, op_s=self.op_medians(),
                    results=self.results, errors=self.errors[:20])
        # a run cut at the deadline before a pass ended reports the deadline;
        # it has failed anyway
        wall = statistics.median(self.walls["pass"] or [DEADLINE_S])
        end_to_end = {"wall_s": wall, "rows_per_s": self.ctx.rows / wall,
                      "setup_s": setup_s,
                      "peak_rss_mb": sampler.peak / 2 ** 20}
        prov["error_rate"] = self.failed / self.attempted
        if not trace:
            return prov, end_to_end, None
        layers = self.layer_metrics()
        layers["trace.overhead_frac"] = (
            statistics.median(self.walls["traced"] or [DEADLINE_S]) - wall) / wall
        return prov, end_to_end, layers

    def op_medians(self) -> dict:
        walls: dict[str, list[float]] = {}
        for sp in self.rec.spans:
            if sp.phase == "pass":
                walls.setdefault(sp.name, []).append(sp.s)
        return {k: statistics.median(v) for k, v in walls.items()}

    def _cancel(self) -> None:
        self.cancelled.set()
        if self.ctx is not None:
            from py4j.protocol import Py4JError

            try:
                self.ctx.spark.sparkContext.cancelAllJobs()
            except Py4JError:  # the session is between a stop and a restart
                pass

    def layer_metrics(self) -> dict:
        """Median over traced passes (set-up repetitions for set-up spans) of
        each metric's per-pass sum; 0 for layers this workload never calls."""
        out = {}
        for metric, (names, fld) in PER_LAYER.items():
            per_step: dict[int, float] = {}
            for sp in self.rec.spans:
                if sp.name in names and sp.phase in ("setup", "traced"):
                    v = sp.s if fld == "s" else sp.fields.get(fld, 0.0)
                    per_step[sp.step] = per_step.get(sp.step, 0.0) + v
            out[metric] = statistics.median(per_step.values()) if per_step else 0.0
        return out


def configure_env(work: Path) -> None:
    """Settings the JVM and the Python workers inherit; all writes stay in ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    paths = [str(ROOT), str(HERE)] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ.update({
        "PYTHONPATH": ":".join(paths),
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "OSMSPARK_DRIVER_MEM": DRIVER_MEM,
        # -Xms at the maximum: peak RSS then does not depend on when G1
        # chose to grow the heap
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf", "spark.ui.showConsoleProgress=false",
            "--driver-java-options", shlex.quote(f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM}"),
            "pyspark-shell"]),
    })


def remove_work(work: Path) -> None:
    """Delete a run's work dir, and ``.perfbench_work`` once it is empty."""
    shutil.rmtree(work, ignore_errors=True)
    try:
        work.parent.rmdir()
    except OSError:
        pass


def osmspark_here() -> bool:
    spec = importlib.util.find_spec("osmspark")
    return spec is not None and spec.origin is not None and \
        Path(spec.origin).resolve().is_relative_to(ROOT)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("ingest", "spatial_join"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    if not osmspark_here():
        print(f"perfbench: no osmspark package under {ROOT}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    configure_env(work)
    import workloads

    expected = json.loads((HERE / "expected.json").read_text()).get(
        f"{args.workload}:{args.seed}")
    try:
        bench = Bench(args.workload, args.seed, workloads.FULL, work, expected)
        prov, end_to_end, layers = bench.run(args.seconds, bool(args.trace))
    finally:
        remove_work(work)
    metrics = layers if args.trace else end_to_end
    print("provenance " + json.dumps(prov, default=str))
    print(f"error_rate {prov['error_rate']} ratio ({bench.failed}/{bench.attempted})")
    for k, v in metrics.items():
        print(f"{k} {v} {unit_of(k)}")
    print(json.dumps({"correct": bench.failed == 0, "attempted": bench.attempted,
                      "failed": bench.failed,
                      "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
