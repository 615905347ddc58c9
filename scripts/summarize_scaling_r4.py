#!/usr/bin/env python3
"""Summarize BENCH/scaling_r4_480k.jsonl: per-level throughput for the
base and jvm_token_ids variants, N→4N scaling efficiencies for both, and
the A/B transport delta at each level. Pure arithmetic over the raw
records (which stay committed alongside); used to fill BENCH/BASELINE.md.
The jvm_token_ids option has since been removed; its records stay as the
published evidence for that decision."""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PATH = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
    REPO, "BENCH", "scaling_r4_480k.jsonl"
)


def main() -> int:
    recs = [json.loads(line) for line in open(PATH) if line.strip()]
    by = {(r["cpus"], r["jvm_token_ids"]): r for r in recs}
    levels = sorted({r["cpus"] for r in recs})

    print(f"{'level':>8} {'mode':>8} {'sec':>8} {'turns/s':>10} "
          f"{'dedup s':>8} {'dedup t/s':>10}  runs")
    for c in levels:
        for jvm in (False, True):
            r = by.get((c, jvm))
            if not r:
                continue
            print(f"local[{c:>2}] {'jvm' if jvm else 'base':>8} "
                  f"{r['sec']:>8} {r['turns_per_sec']:>10} "
                  f"{r['sec_dedup']:>8} {r['turns_per_sec_dedup']:>10}  "
                  f"{r['all_runs_sec']} | dedup {r['all_runs_dedup_sec']} "
                  f"| load {r.get('host_loadavg_before')}→{r['host_loadavg_after']}")

    for jvm in (False, True):
        mode = "jvm" if jvm else "base"
        for lo, hi in zip(levels, levels[1:]):
            a, b = by.get((lo, jvm)), by.get((hi, jvm))
            if not (a and b):
                continue
            sp = a["sec"] / b["sec"]
            spd = a["sec_dedup"] / b["sec_dedup"]
            f = hi / lo
            print(f"{mode}: {lo}->{hi} per-occ speedup {sp:.3f} "
                  f"eff {sp / f:.3f} | dedup speedup {spd:.3f} eff {spd / f:.3f}")

    for c in levels:
        a, b = by.get((c, False)), by.get((c, True))
        if a and b:
            print(f"A/B local[{c}]: per-occ {a['sec']}s -> {b['sec']}s "
                  f"({a['sec'] / b['sec']:.3f}x), dedup {a['sec_dedup']}s -> "
                  f"{b['sec_dedup']}s ({a['sec_dedup'] / b['sec_dedup']:.3f}x)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
