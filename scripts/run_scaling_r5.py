#!/usr/bin/env python3
"""Round-5 scaling evidence runner (north rule: N -> 4N efficiency >= 0.8).

Two variants per parallelism level, interleaved so each A/B shares one
host-noise window:

* ``toy``    — the established campaign measurand (rounds 3/4): the full
  KG job with the toy fixture weights on the 480k-conv (5.52M-turn)
  corpus, per-occurrence scoring (compute-representative) plus the
  dedup-before-inference default.
* ``refcap`` — NEW this round: the same job with seeded synthetic weights
  at the reference's flagship capacity (GloVe-300d + 2x50d offsets,
  150x[2..5] filters — plans/kg_pipeline.reference_capacity_weights) on a
  15k-conv (~173k-turn) corpus. At this FLOP density the job is
  GEMM-bound rather than bandwidth-bound, so its scaling isolates the
  compute path from the single-memory-bus roof documented in
  docs/SCALE.md §7 (the corpus is sized so local[2] stays ~3 min/run).

Raw per-worker JSON (with loadavg before each worker + every run time)
appends to BENCH/scaling_r5.jsonl; resumable — recorded (cpus, variant)
pairs are skipped, and a --redo list re-runs named pairs appending fresh
records (last record per key wins at summary time).

Usage: python3 scripts/run_scaling_r5.py
       python3 scripts/run_scaling_r5.py --worker <cpus> <variant>
       python3 scripts/run_scaling_r5.py --redo 2:toy,8:refcap
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TOY_CORPUS = "/tmp/relex_scaling_transcripts"      # 480k convs (r4 layout)
REFCAP_CORPUS = "/tmp/relex_scaling_refcap"        # 15k convs
REFCAP4X_CORPUS = "/tmp/relex_scaling_refcap4x"    # 60k convs
TOY_CONVS = 480_000
REFCAP_CONVS = 15_000
REFCAP4X_CONVS = 60_000
OUT = os.path.join(REPO, "BENCH", "scaling_r5.jsonl")
PLAN = [
    (2, "toy"), (2, "refcap"),
    (8, "toy"), (8, "refcap"),
    (32, "toy"), (32, "refcap"),
    # refcap at a 4x corpus: two corpus sizes per level solve
    # t = c + k*n for the per-level fixed job cost c, so the scaling
    # efficiency can be published fixed-cost-decomposed (r3 methodology)
    # instead of estimated
    (2, "refcap4x"), (8, "refcap4x"), (32, "refcap4x"),
]
# per-occurrence runs / dedup runs per (level, variant)
RUNS = {"toy": (4, 2), "refcap": (3, 2), "refcap4x": (2, 2)}
CORPUS = {
    "toy": TOY_CORPUS,
    "refcap": REFCAP_CORPUS,
    "refcap4x": REFCAP4X_CORPUS,
}


def ensure_corpus(path: str, n_convs: int) -> None:
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        print(f"reusing corpus {path}", file=sys.stderr)
        return
    from relex_spark.session import get_spark
    from relex_spark.sources.transcripts import synthesize_transcripts

    shutil.rmtree(path, ignore_errors=True)
    spark = get_spark("scaling_gen_r5", master="local[32]")
    spark.sparkContext.setLogLevel("ERROR")
    synthesize_transcripts(spark, n_convs=n_convs).repartition(256).write.mode(
        "overwrite"
    ).parquet(path)
    spark.stop()
    print(f"generated {path} (n_convs={n_convs})", file=sys.stderr)


def worker(cpus: int, variant: str) -> None:
    from relex_spark.operators.canonicalize import alias_components, canonicalize_triples
    from relex_spark.plans.kg_pipeline import (
        KGPipelineConfig,
        build_triples,
        reference_capacity_weights,
    )
    from relex_spark.session import get_spark

    corpus = CORPUS[variant]
    spark = get_spark(
        f"scaling_r5_{cpus}_{variant}",
        master=f"local[{cpus}]",
        shuffle_partitions=2 * cpus,
        extra_conf={"spark.sql.files.maxPartitionBytes": "16m"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    tdf = spark.read.parquet(corpus)
    n_turns = tdf.count()

    config = KGPipelineConfig(score_distinct=False, compute_dtype="float32")
    config_dedup = KGPipelineConfig(score_distinct=True, compute_dtype="float32")
    if variant.startswith("refcap"):
        w = reference_capacity_weights()
        config.weights = w
        config_dedup.weights = w
    else:
        config_dedup.weights = config.resolved_weights()

    components = alias_components(spark, config.gazetteer_rows)

    def job(cfg):
        canonicalize_triples(build_triples(tdf, cfg), components).write.format(
            "noop"
        ).mode("overwrite").save()

    n_po, n_dd = RUNS[variant]
    job(config)  # discarded warm run (JIT + codegen + page cache)
    runs = []
    for _ in range(n_po):
        t0 = time.perf_counter()
        job(config)
        runs.append(time.perf_counter() - t0)
    sec = min(runs)

    job(config_dedup)  # warm the dedup-path codegen
    runs_dedup = []
    for _ in range(n_dd):
        t0 = time.perf_counter()
        job(config_dedup)
        runs_dedup.append(time.perf_counter() - t0)
    sec_dedup = min(runs_dedup)
    with open("/proc/loadavg") as f:
        loadavg = f.read().split()[:3]

    print(
        json.dumps(
            {
                "cpus": cpus,
                "variant": variant,
                "n_turns": n_turns,
                "sec": round(sec, 2),
                "all_runs_sec": [round(r, 2) for r in runs],
                "turns_per_sec": round(n_turns / sec, 1),
                "sec_dedup": round(sec_dedup, 2),
                "all_runs_dedup_sec": [round(r, 2) for r in runs_dedup],
                "turns_per_sec_dedup": round(n_turns / sec_dedup, 1),
                "input_partitions": tdf.rdd.getNumPartitions(),
                "host_loadavg_after": loadavg,
                "shuffle_partitions": spark.conf.get(
                    "spark.sql.shuffle.partitions"
                ),
                "spark": spark.version,
            }
        ),
        flush=True,
    )
    spark.stop()


def main() -> int:
    if len(sys.argv) >= 4 and sys.argv[1] == "--worker":
        worker(int(sys.argv[2]), sys.argv[3])
        return 0

    redo: list[tuple[int, str]] = []
    if len(sys.argv) > 2 and sys.argv[1] == "--redo":
        redo = [
            (int(p.split(":")[0]), p.split(":")[1])
            for p in sys.argv[2].split(",")
        ]

    ensure_corpus(TOY_CORPUS, TOY_CONVS)
    ensure_corpus(REFCAP_CORPUS, REFCAP_CONVS)
    ensure_corpus(REFCAP4X_CORPUS, REFCAP4X_CONVS)

    done = set()
    if os.path.exists(OUT) and not redo:
        with open(OUT) as f:
            for line in f:
                if line.strip():
                    r = json.loads(line)
                    done.add((r["cpus"], r["variant"]))

    for cpus, variant in (redo or PLAN):
        if (cpus, variant) in done:
            print(f"local[{cpus}] {variant}: already recorded, skipping",
                  flush=True)
            continue
        load_before = list(os.getloadavg())
        t0 = time.time()
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--worker",
             str(cpus), variant],
            capture_output=True,
            text=True,
            timeout=3600,
            cwd=REPO,
        )
        line = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""
        rec = None
        if out.returncode == 0 and line:
            try:
                rec = json.loads(line)
            except json.JSONDecodeError:
                rec = None
        if rec is None:
            print(
                f"worker {cpus} {variant} FAILED (exit {out.returncode}, "
                f"last stdout line: {line[:200]!r}):\n{out.stderr[-3000:]}"
            )
            return 1
        rec["host_loadavg_before"] = load_before
        rec["wall_total_sec"] = round(time.time() - t0, 1)
        with open(OUT, "a") as f:
            f.write(json.dumps(rec) + "\n")
        print(f"local[{cpus}] {variant}: sec={rec['sec']} "
              f"runs={rec['all_runs_sec']} dedup={rec['sec_dedup']}",
              flush=True)
    print(f"done -> {OUT}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
