"""Spans around library calls, and the Spark event log folded onto them.

A span is one timed call into a public osmspark function, made from the
benchmark's own code. With a SparkContext attached, the span also sets a
job group, so every Spark job the call submits from the driver thread
carries the span's id. Jobs submitted from other driver threads (the
``run_stage`` thread pool) carry no group; they are attributed to the span
whose wall-clock window contains their submission time. The load is closed
loop, one call at a time, so those windows do not overlap. A traced span
also records ``gc_s``, the JVM's garbage-collection time over its window:
in local mode the executors run in the driver JVM, and the per-task GC
time of the event log is too coarse to see collections at this size.

``fold_event_log`` reads an uncompressed Spark event log and adds, to each
span, the task metrics of the stages its jobs actually ran. A stage that a
job lists but skips (its shuffle output already existed) has no task-end
events, so it is never counted twice. A stage listed by several jobs is
billed to the earliest of them, the one it ran for.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

# event-log fields summed per span, from each TaskEnd's task metrics
_TASK_FIELDS = {
    "cpu_s": (("Executor CPU Time",), 1e-9),
    "run_s": (("Executor Run Time",), 1e-3),
    "shuffle_bytes": (("Shuffle Write Metrics", "Shuffle Bytes Written"), 1),
    "spill_bytes": (("Disk Bytes Spilled",), 1),
}
# ... and from the SQL metrics a Python operator reports per task
_PY_FIELDS = {
    "python_s": ("time to run Python workers", 1e-3),
    "python_in_bytes": ("data sent to Python workers", 1),
    "python_out_bytes": ("data returned from Python workers", 1),
}
EVENT_FIELDS = ("jobs", *_TASK_FIELDS, *_PY_FIELDS)


@dataclass
class Span:
    name: str
    group: str
    phase: str  # "setup", "warm", "pass", "traced"
    step: int   # pass index; negative for set-up repetitions
    t0: float
    t1: float
    fields: dict = field(default_factory=dict)

    @property
    def s(self) -> float:
        return self.t1 - self.t0


def _jvm_gc_ms(sc) -> int:
    beans = sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans)


class Recorder:
    """Collects spans in memory; ``sc`` set means job groups are tagged
    and JVM GC time is read around each span."""

    def __init__(self):
        self.spans: list[Span] = []
        self.sc = None
        self.phase = "setup"
        self.step = 0

    @contextmanager
    def span(self, name: str):
        group = f"perfbench-{len(self.spans)}-{name}"
        gc0 = None
        if self.sc is not None:
            self.sc.setJobGroup(group, name)
            gc0 = _jvm_gc_ms(self.sc)
        sp = Span(name, group, self.phase, self.step, time.time(), 0.0)
        try:
            yield sp
        finally:
            sp.t1 = time.time()
            if gc0 is not None:
                sp.fields["gc_s"] = (_jvm_gc_ms(self.sc) - gc0) / 1000
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(sp)


def _dig(d: dict, path: tuple[str, ...]):
    for k in path:
        d = d.get(k, {}) if isinstance(d, dict) else {}
    return d if isinstance(d, (int, float)) else 0


def fold_event_log(path: str, spans: list[Span]) -> None:
    """Add EVENT_FIELDS to every span that submitted jobs in the log."""
    jobs: dict[int, tuple[str | None, float]] = {}
    stage_jobs: dict[int, int] = {}
    stage_sums: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                jid = e["Job ID"]
                props = e.get("Properties") or {}
                jobs[jid] = (props.get("spark.jobGroup.id"),
                             e["Submission Time"] / 1000.0)
                for sid in e["Stage IDs"]:
                    stage_jobs[sid] = min(stage_jobs.get(sid, jid), jid)
            elif ev == "SparkListenerTaskEnd":
                sums = stage_sums[e["Stage ID"]]
                tm = e.get("Task Metrics") or {}
                for name, (keys, scale) in _TASK_FIELDS.items():
                    sums[name] += _dig(tm, keys) * scale
                for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                    for name, (label, scale) in _PY_FIELDS.items():
                        if acc.get("Name") == label:
                            sums[name] += float(acc.get("Update") or 0) * scale

    by_group = {sp.group: sp for sp in spans}

    def owner(jid: int) -> Span | None:
        group, submitted = jobs[jid]
        if group in by_group:
            return by_group[group]
        for sp in spans:
            if sp.t0 <= submitted <= sp.t1:
                return sp
        return None

    owners = {jid: owner(jid) for jid in jobs}
    for sp in spans:
        sp.fields.update({k: 0.0 for k in EVENT_FIELDS})
    for jid, sp in owners.items():
        if sp is not None:
            sp.fields["jobs"] += 1
    for sid, sums in stage_sums.items():
        sp = owners.get(stage_jobs.get(sid, -1))
        if sp is not None:
            for k, v in sums.items():
                sp.fields[k] += v
