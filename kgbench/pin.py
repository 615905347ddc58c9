#!/usr/bin/env python3
"""Write the reference digests every benchmark pass is checked against.

    python3 kgbench/pin.py --seeds 0-99 [--workload kg_refcap ...]

For each workload and seed it generates the run's inputs, computes the
reference by the independent path (the per-occurrence KG pipeline,
``score_distinct=False``; each driver query's DuckDB oracle) and stores the
digests and input counts in kgbench/pins.json, keeping the pins of other
seeds. Re-run it whenever the input generators or sizes change.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kgbench import run  # noqa: E402  (sets the BLAS threads before numpy loads)
from kgbench.workloads import WORKLOADS  # noqa: E402


def seed_range(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--seeds", type=seed_range, required=True, help="N or N-M")
    parser.add_argument("--workload", action="append", choices=sorted(WORKLOADS))
    args = parser.parse_args()

    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(run.WORK, "runs", f"pin-{os.getpid()}")
    run.prepare_environment(run_dir, cpus)
    pins = {}
    if os.path.isfile(run.PINS):
        with open(run.PINS) as f:
            pins = json.load(f)
    spark = run.start_session(run_dir, cpus, None)
    try:
        for name in args.workload or sorted(WORKLOADS):
            wl = WORKLOADS[name]
            for seed in args.seeds:
                t0 = time.perf_counter()
                work = os.path.join(run_dir, f"{name}-{seed}")
                wl.setup(spark, seed, work)
                pins.setdefault(name, {})[str(seed)] = wl.reference()
                shutil.rmtree(work, ignore_errors=True)
                run.log(f"{name} seed {seed}: {time.perf_counter() - t0:.1f} s")
                # written after every seed, so an interrupted run keeps its pins
                with open(run.PINS + ".tmp", "w") as f:
                    json.dump(pins, f, indent=1, sort_keys=True)
                    f.write("\n")
                os.replace(run.PINS + ".tmp", run.PINS)
    finally:
        run.stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
