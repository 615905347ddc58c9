#!/usr/bin/env python3
"""Scaling-efficiency evidence (north rule): the SAME KG job at several
local[N] parallelism levels on the SAME input, throughput + efficiency per
4× transition, printed as a markdown section for BENCH/BASELINE.md.

Each parallelism level runs in its own subprocess (one JVM per master
setting). Protocol per BASELINE.md: one discarded warm run, then best-of-5
(min — the standard robust capacity estimator under multi-tenant host
noise; observed interference spikes of 3-10× on nominally idle hosts, so
every per-run time is published alongside the min). The timed job is: transcripts scan → mention detection → pair
generation → preprocess → mapInPandas CNN scoring → canonical rewrite +
triple dedup aggregation → noop sink. The alias component map is built
once before timing, on the driver from the gazetteer rows
(``alias_components``, zero Spark jobs): it is O(|entities|), not O(turns).

Default levels (2, 8, 32) give two N→4N transitions. The sandbox caveat,
documented with measurements in docs/SCALE.md §7: local[8]→local[32]
shares ONE memory subsystem (~30 GB/s measured on this VM), unlike a real
cluster where 4N executors bring 4× aggregate bandwidth; 2→8 is the
transition whose per-core bandwidth matches a production executor.

The script never writes under BENCH/: the section goes to stdout (the
JSON report and per-level progress go to stderr), and a curator pastes
it into BENCH/BASELINE.md, which also holds sections no single run can
regenerate.

Usage:
    python3 scripts/scaling_bench.py > section.md  # orchestrate, print section
    python3 scripts/scaling_bench.py --worker 8    # internal
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TRANSCRIPTS = "/tmp/relex_scaling_transcripts"
N_CONVS = int(os.environ.get("RELEX_SCALING_CONVS", "240000"))
LEVELS = tuple(
    int(x) for x in os.environ.get("RELEX_SCALING_LEVELS", "2,8,32").split(",")
)


def worker(cpus: int) -> None:
    from relex_spark.operators.canonicalize import alias_components, canonicalize_triples
    from relex_spark.plans.kg_pipeline import KGPipelineConfig, build_triples
    from relex_spark.session import get_spark

    spark = get_spark(
        f"scaling_{cpus}",
        master=f"local[{cpus}]",
        shuffle_partitions=2 * cpus,
        # multi-wave task balance: ~2 waves minimum at the largest level so
        # a straggler split doesn't gate the stage
        extra_conf={"spark.sql.files.maxPartitionBytes": "16m"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    tdf = spark.read.parquet(TRANSCRIPTS)
    n_turns = tdf.count()
    # Headline scaling variant: score_distinct=False — every candidate
    # occurrence is scored (the reference's own per-instance semantics, so
    # throughput ratios against it are like-for-like), and the job is
    # CNN-compute-dominated, i.e. representative of how a compute-bound
    # stage scales with cores. The score_distinct=True production default
    # is timed separately below: it is faster in absolute terms at every
    # level but collapses the compute so the job turns scan/bandwidth-
    # bound, which on this single-memory-bus VM (docs/SCALE.md §7) measures
    # the shared 30 GB/s roof rather than the plan.
    config = KGPipelineConfig(score_distinct=False, compute_dtype="float32")
    config_dedup = KGPipelineConfig(score_distinct=True, compute_dtype="float32")
    config_dedup.weights = config.resolved_weights()  # share the memoized build

    # driver-side entity dimension, built before timing (see module docstring)
    components = alias_components(spark, config.gazetteer_rows)

    def job(cfg=config):
        scored = build_triples(tdf, cfg)
        canon = canonicalize_triples(scored, components)
        canon.write.format("noop").mode("overwrite").save()

    job()  # discarded warm run (JIT + codegen compile + page cache)
    runs = []
    for _ in range(int(os.environ.get("RELEX_SCALING_RUNS", "5"))):
        t0 = time.perf_counter()
        job()
        runs.append(time.perf_counter() - t0)
    sec = min(runs)

    job(config_dedup)  # warm the dedup-path codegen
    runs_dedup = []
    for _ in range(int(os.environ.get("RELEX_SCALING_RUNS_DEDUP", "3"))):
        t0 = time.perf_counter()
        job(config_dedup)
        runs_dedup.append(time.perf_counter() - t0)
    sec_dedup = min(runs_dedup)
    with open("/proc/loadavg") as f:
        loadavg = f.read().split()[:3]

    n_triples = build_triples(tdf, config).count()
    print(
        json.dumps(
            {
                "cpus": cpus,
                "n_turns": n_turns,
                "scored_triples": n_triples,
                "sec": round(sec, 2),
                "all_runs_sec": [round(r, 2) for r in runs],
                "turns_per_sec": round(n_turns / sec, 1),
                "triples_per_sec": round(n_triples / sec, 1),
                "sec_dedup": round(sec_dedup, 2),
                "all_runs_dedup_sec": [round(r, 2) for r in runs_dedup],
                "turns_per_sec_dedup": round(n_turns / sec_dedup, 1),
                "input_partitions": tdf.rdd.getNumPartitions(),
                "host_loadavg_after": loadavg,
                "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
                "spark": spark.version,
            }
        ),
        flush=True,
    )
    spark.stop()


def orchestrate() -> int:
    from relex_spark.session import get_spark
    from relex_spark.sources.transcripts import synthesize_transcripts

    if not os.path.exists(os.path.join(TRANSCRIPTS, "_SUCCESS")):
        spark = get_spark("scaling_gen", master="local[32]")
        spark.sparkContext.setLogLevel("ERROR")
        # 256 output files → with 16 MB splits every level runs ≥2 waves;
        # stragglers from skewed conversations amortize instead of gating
        synthesize_transcripts(spark, n_convs=N_CONVS).repartition(256).write.mode(
            "overwrite"
        ).parquet(TRANSCRIPTS)
        spark.stop()
        print(f"generated {TRANSCRIPTS} (n_convs={N_CONVS})", file=sys.stderr)

    results = {}
    for cpus in LEVELS:
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--worker", str(cpus)],
            capture_output=True,
            text=True,
            timeout=3600,
            cwd=REPO,
        )
        line = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""
        if not line:
            print(f"worker {cpus} failed:\n{out.stderr[-3000:]}", file=sys.stderr)
            return 1
        results[cpus] = json.loads(line)
        print(f"local[{cpus}]: {results[cpus]}", file=sys.stderr)

    transitions = []
    for lo, hi in zip(LEVELS, LEVELS[1:]):
        speedup = results[lo]["sec"] / results[hi]["sec"]
        transitions.append(
            {
                "from": lo,
                "to": hi,
                "speedup": round(speedup, 3),
                "efficiency": round(speedup / (hi / lo), 3),
            }
        )
    transitions_dedup = []
    for lo, hi in zip(LEVELS, LEVELS[1:]):
        speedup = results[lo]["sec_dedup"] / results[hi]["sec_dedup"]
        transitions_dedup.append(
            {
                "from": lo,
                "to": hi,
                "speedup": round(speedup, 3),
                "efficiency": round(speedup / (hi / lo), 3),
            }
        )
    report = {
        "levels": results,
        "transitions": transitions,
        "transitions_dedup": transitions_dedup,
        "target": 0.8,
    }
    print(json.dumps(report), file=sys.stderr)

    any_r = results[LEVELS[0]]
    rows = "\n".join(
        f"| local[{c}] | {r['sec']} | {r['turns_per_sec']} | "
        f"{r['triples_per_sec']} | {r['shuffle_partitions']} | "
        f"{r['all_runs_sec']} |"
        for c, r in results.items()
    )
    trans = "\n".join(
        f"- **local[{t['from']}] → local[{t['to']}] "
        f"({t['to'] // t['from']}×): speedup {t['speedup']}× — efficiency "
        f"{t['efficiency']}** (target ≥ 0.8)"
        for t in transitions
    )
    rows_dedup = "\n".join(
        f"| local[{c}] | {r['sec_dedup']} | {r['turns_per_sec_dedup']} | "
        f"{r['all_runs_dedup_sec']} |"
        for c, r in results.items()
    )
    trans_dedup = "\n".join(
        f"- local[{t['from']}] → local[{t['to']}] "
        f"({t['to'] // t['from']}×): speedup {t['speedup']}× — efficiency "
        f"{t['efficiency']} (bandwidth-roofed on this VM; see above)"
        for t in transitions_dedup
    )
    md = f"""## Scaling efficiency at N vs 4N parallelism, same job, same input

Input: {any_r['n_turns']:,} transcript turns (deterministic corpus,
{N_CONVS} convs, 256 parquet files, 16 MB splits →
{any_r['input_partitions']} task partitions). One JVM per level, one
discarded warm run, then best-of-5 (min; every run time published below
— the host is multi-tenant). Timed job: scan → mention detect
→ pair gen → preprocess → mapInPandas CNN scoring (per-occurrence,
`score_distinct=False` — see the production-default table below for why)
→ canonical rewrite + triple dedup → noop sink. (The alias component map
is built on the driver before timing: O(|entities|), zero Spark jobs.)

| parallelism | wall sec | turns/sec | triples/sec | shuffle.partitions | all runs (sec) |
|---|---|---|---|---|---|
{rows}

{trans}

**Sandbox caveat (measured, see docs/SCALE.md §7):** all local[N] levels
share this VM's single ~30 GB/s memory subsystem; on a real cluster 4N
executors bring 4× aggregate bandwidth. The 2→8 transition — where
per-core bandwidth matches a production executor — is the representative
N→4N evidence; 8→32 is reported unedited for transparency and is
bandwidth-roofed, not shuffle- or skew-limited (the job's CPU profile is
flat per-core below the roof).

## Production default (`score_distinct=True`): absolute throughput

Same job with dedup-before-inference on (the `build_triples` default):
the CNN runs once per distinct (tokens, spans) input, so absolute wall
time drops at every level, but the job becomes scan/bandwidth-bound —
on this single-memory-bus VM that measures the shared ~30 GB/s roof, not
the plan, so the per-occurrence table above is the scaling evidence and
this table is the absolute-throughput evidence (best-of-3, all runs
published):

| parallelism | wall sec | turns/sec | all runs (sec) |
|---|---|---|---|
{rows_dedup}

{trans_dedup}

Config: Spark {any_r['spark']}, AQE on (coalesce + skew join), Arrow batch
4096 rows, scored candidates {any_r['scored_triples']:,}.

Reproduce: `python3 scripts/scaling_bench.py` (env RELEX_SCALING_CONVS
scales the corpus; RELEX_SCALING_LEVELS sets the parallelism levels).
"""
    print(md)
    return 0


if __name__ == "__main__":
    if len(sys.argv) >= 3 and sys.argv[1] == "--worker":
        worker(int(sys.argv[2]))
    else:
        raise SystemExit(orchestrate())
