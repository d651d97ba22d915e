"""Smoke test of the benchmark itself, on tiny inputs.

Run from the repository root::

    python3 perfbench/smoke.py

Each workload runs once, traced. The test checks that every metric named in
BENCHMARK.json is emitted, with its declared unit and a finite value, and
that no operation failed. Then it pins a wrong fingerprint for one operation
and checks that the run reports the failure. Exits 1 on the first broken
check, 0 when all hold.
"""

from __future__ import annotations

import json
import math
import os
import sys

import run


def check(cond: bool, what: str) -> None:
    if not cond:
        print(f"FAIL: {what}", file=sys.stderr)
        sys.exit(1)


def check_metrics(got: dict, declared: dict, what: str) -> None:
    check(set(got) == set(declared),
          f"{what}: metrics {sorted(set(got) ^ set(declared))} missing or undeclared")
    for name, unit in declared.items():
        check(run.unit_of(name) == unit, f"{what}: {name} in {run.unit_of(name)}, declared {unit}")
        check(math.isfinite(got[name]), f"{what}: {name} = {got[name]}")


def main() -> int:
    spec = json.loads((run.ROOT / "BENCHMARK.json").read_text())
    end_to_end = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    sys.path.insert(0, str(run.ROOT))
    work = run.ROOT / ".perfbench_work" / f"smoke-{os.getpid()}"
    run.configure_env(work)
    import workloads

    try:
        for name in workloads.WORKLOADS:
            bench = run.Bench(name, 1, workloads.TINY, work / name, None)
            prov, e2e, layers = bench.run(0.1, trace=True)
            check(bench.failed == 0 and prov["error_rate"] == 0,
                  f"{name}: error_rate {prov['error_rate']}: {prov['errors']}")
            check_metrics(e2e, end_to_end, name)
            check_metrics(layers, per_layer, f"{name} traced")
            print(f"ok {name}: {bench.attempted} operations, wall_s {e2e['wall_s']:.2f}")

        op, good = next(iter(bench.results.items()))
        bench = run.Bench(name, 1, workloads.TINY, work / "wrong-pin",
                          {op: dict(good, h=good["h"] + 1)})
        prov, _, _ = bench.run(0.1, trace=False)
        check(prov["error_rate"] > 0, f"a wrong pinned hash for {op} went unnoticed")
        print(f"ok wrong pin for {op}: error_rate {prov['error_rate']:.3f}")
    finally:
        run.remove_work(work)
    return 0


if __name__ == "__main__":
    sys.exit(main())
