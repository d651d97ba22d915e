"""Pin the expected fingerprints of a workload's operations for some seeds.

Run from the repository root, after a deliberate change of an operation's
output or of the input sizes::

    python3 perfbench/pin.py --workload spatial_join --seeds 1-10

One session synthesizes each seed's inputs and runs one pass over them; the
pass's fingerprints go into ``expected.json`` under ``"<workload>:<seed>"``
when no operation of any seed failed. Exits 1, writing nothing, otherwise.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import run


def seeds_arg(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("ingest", "spatial_join"))
    ap.add_argument("--seeds", type=seeds_arg, required=True, help="N or FIRST-LAST")
    args = ap.parse_args()

    sys.path.insert(0, str(run.ROOT))
    work = run.ROOT / ".perfbench_work" / f"pin-{os.getpid()}"
    run.configure_env(work)
    import workloads

    path = run.HERE / "expected.json"
    pins = json.loads(path.read_text())
    errors = []
    try:
        spark = None
        for seed in args.seeds:
            bench = run.Bench(args.workload, seed, workloads.FULL, work, None)
            spark = spark or bench.session()
            ctx = bench.new_ctx(spark, work / str(seed))
            bench.wl.make(ctx)
            bench.wl.load(ctx)
            bench.run_pass("pin")
            errors += [f"seed {seed}: {e}" for e in bench.errors]
            pins[f"{args.workload}:{seed}"] = bench.results
            print(f"seed {seed}: {len(bench.results)} operations, {len(bench.errors)} failed")
    finally:
        run.shutdown_spark()
        run.remove_work(work)
    if errors:
        print("\n".join(errors[:20]), file=sys.stderr)
        return 1
    path.write_text(json.dumps(dict(sorted(pins.items())), indent=1) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
