#!/usr/bin/env python3
"""Scaling-efficiency evidence (north rule: N→4N throughput efficiency
≥ 0.8): the SAME KG job at several local[N] parallelism levels on the SAME
input, one subprocess (one JVM) per (level, variant).

The variants differ only in corpus size and model weights:

* ``toy``      — fixture weights on ``RELEX_SCALING_CONVS`` convs (240k
  convs ≈ 2.76M turns, 480k ≈ 5.52M): the cross-round continuity
  measurand. The 2-dim toy kernel is so light that the job streams
  tokens and Arrow batches, i.e. it scales like a bandwidth-bound job.
* ``refcap``   — ``reference_capacity_weights()`` (the reference's
  flagship CNN capacity) on 15k convs (~173k turns): GEMM-bound, so its
  scaling isolates the compute path.
* ``refcap4x`` — the same weights on 60k convs. With ``refcap`` it gives
  two corpus sizes per level, so t = c + k·n measures the per-level
  fixed job cost c instead of assuming it.

The timed job is ``run_kg_pipeline`` without checkpoints into a noop sink:
scan → mention detect → pair gen → preprocess → mapInPandas CNN scoring →
canonical rewrite + triple dedup (the alias map is built on the driver,
zero Spark jobs). Per (level, variant): one discarded warm run, then the
per-occurrence runs (``score_distinct=False``: every candidate occurrence
is scored, the compute-representative scaling measurand), then one warm
run and the dedup-before-inference runs (``score_distinct=True``, the
production default). Each path reports the min of its runs, and every run
is published: the host is multi-tenant.

Sandbox caveat (measured, docs/SCALE.md §7): all local[N] levels share one
memory subsystem, while 4N executors on a real cluster bring 4× aggregate
bandwidth. 2→8 is the representative N→4N transition; 8→32 is reported
unedited and is bandwidth-roofed.

A run appends one JSON record per (level, variant) to the JSONL file named
on the command line and skips keys already recorded there; ``--redo``
re-runs the named keys and appends fresh records (the last record per key
wins). It ends by printing the markdown summary of that file on stdout.
``summarize`` renders the same summary from record files, including the
committed round-3/4/5 records under BENCH/. Nothing is written under BENCH/
unless the JSONL path points there.

Usage:
    python3 scripts/scaling_bench.py OUT.jsonl [--redo 2:toy,8:refcap]
    python3 scripts/scaling_bench.py summarize BENCH/scaling_r5.jsonl ...
    python3 scripts/scaling_bench.py --worker <cpus> <variant>   # internal

Environment: RELEX_SCALING_CONVS (toy corpus convs, default 240000) and
RELEX_SCALING_LEVELS (parallelism levels, default 2,8,32).
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

N_CONVS = int(os.environ.get("RELEX_SCALING_CONVS", "240000"))
LEVELS = tuple(
    int(x) for x in os.environ.get("RELEX_SCALING_LEVELS", "2,8,32").split(",")
)
# variant -> (corpus convs, per-occurrence runs, dedup runs). refcap* score
# with reference_capacity_weights(), toy with the fixture weights.
VARIANTS = {
    "toy": (N_CONVS, 5, 3),
    "refcap": (15_000, 3, 2),
    "refcap4x": (60_000, 2, 2),
}


def corpus_dir(n_convs: int) -> str:
    """The generated corpus of ``n_convs`` convs. Keyed by the conv count,
    so a corpus of one size is never reused as another."""
    return f"/tmp/relex_scaling_{n_convs}convs"


def ensure_corpus(n_convs: int) -> None:
    path = corpus_dir(n_convs)
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        print(f"reusing corpus {path}", file=sys.stderr)
        return
    from relex_spark.session import get_spark
    from relex_spark.sources.transcripts import synthesize_transcripts

    shutil.rmtree(path, ignore_errors=True)
    spark = get_spark("scaling_gen", master="local[32]")
    spark.sparkContext.setLogLevel("ERROR")
    # 256 output files → with 16 MB splits every level runs ≥2 waves;
    # stragglers from skewed conversations amortize instead of gating
    synthesize_transcripts(spark, n_convs=n_convs).repartition(256).write.mode(
        "overwrite"
    ).parquet(path)
    spark.stop()
    print(f"generated {path} (n_convs={n_convs})", file=sys.stderr)


def worker(cpus: int, variant: str) -> None:
    from relex_spark.plans.kg_pipeline import (
        KGPipelineConfig,
        build_triples,
        reference_capacity_weights,
        run_kg_pipeline,
    )
    from relex_spark.session import get_spark

    n_convs, n_runs, n_runs_dedup = VARIANTS[variant]
    spark = get_spark(
        f"scaling_{cpus}_{variant}",
        master=f"local[{cpus}]",
        shuffle_partitions=2 * cpus,
        extra_conf={"spark.sql.files.maxPartitionBytes": "16m"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    tdf = spark.read.parquet(corpus_dir(n_convs))
    n_turns = tdf.count()

    if variant.startswith("refcap"):
        weights = reference_capacity_weights()
    else:  # built once: the driver-side RNG build must not recur per job
        weights = KGPipelineConfig(compute_dtype="float32").resolved_weights()
    config = KGPipelineConfig(score_distinct=False, weights=weights)
    config_dedup = KGPipelineConfig(score_distinct=True, weights=weights)

    def best_of(cfg: KGPipelineConfig, n: int) -> list[float]:
        def job() -> None:
            run_kg_pipeline(spark, tdf, cfg).write.format("noop").mode(
                "overwrite"
            ).save()

        job()  # discarded warm run (JIT + codegen + page cache)
        runs = []
        for _ in range(n):
            t0 = time.perf_counter()
            job()
            runs.append(round(time.perf_counter() - t0, 2))
        return runs

    runs = best_of(config, n_runs)
    runs_dedup = best_of(config_dedup, n_runs_dedup)
    sec, sec_dedup = min(runs), min(runs_dedup)
    with open("/proc/loadavg") as f:
        loadavg = f.read().split()[:3]
    n_triples = build_triples(tdf, config).count()
    print(
        json.dumps(
            {
                "cpus": cpus,
                "variant": variant,
                "n_turns": n_turns,
                "scored_triples": n_triples,
                "sec": sec,
                "all_runs_sec": runs,
                "turns_per_sec": round(n_turns / sec, 1),
                "triples_per_sec": round(n_triples / sec, 1),
                "sec_dedup": sec_dedup,
                "all_runs_dedup_sec": runs_dedup,
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


def load_records(path: str) -> list[dict]:
    """The records of one file, in any committed shape: a round-3 report
    (one JSON object, records under ``levels``, all ``toy``), round-4 JSONL
    (``jvm_token_ids`` names the variant) or this tool's JSONL."""
    with open(path) as f:
        text = f.read()
    try:
        recs = list(json.loads(text)["levels"].values())
    except (json.JSONDecodeError, KeyError):
        recs = [json.loads(line) for line in text.splitlines() if line.strip()]
    for r in recs:
        r.setdefault("variant", "jvm_token_ids" if r.get("jvm_token_ids") else "toy")
    return recs


def latest(recs: list[dict]) -> dict[tuple[int, str], dict]:
    """(cpus, variant) → record; the last record per key wins, so a
    quiet-window redo supersedes a noisy run while both stay published."""
    return {(r["cpus"], r["variant"]): r for r in recs}


def transitions(by: dict, variant: str, key: str) -> list[tuple[int, int, float, float]]:
    """(lo, hi, speedup, efficiency) between consecutive measured levels."""
    levels = sorted(c for c, v in by if v == variant)
    out = []
    for lo, hi in zip(levels, levels[1:]):
        speedup = by[lo, variant][key] / by[hi, variant][key]
        out.append((lo, hi, speedup, speedup / (hi / lo)))
    return out


def fixed_costs(by: dict) -> dict[int, tuple[float, float]]:
    """Per level with both refcap sizes: (fixed job cost c, marginal sec
    per turn k) of the line t = c + k·n through both measured points, so
    k = (t4x − t1x) / (n4x − n1x) and c = t1x − k·n1x."""
    out = {}
    for c in sorted(c for c, v in by if v == "refcap"):
        a, b = by[c, "refcap"], by.get((c, "refcap4x"))
        if b:
            k = (b["sec"] - a["sec"]) / (b["n_turns"] - a["n_turns"])
            out[c] = (a["sec"] - k * a["n_turns"], k)
    return out


def _trans_lines(trans: list, target: bool) -> list[str]:
    return [
        f"- local[{lo}] → local[{hi}] ({hi / lo:g}×): speedup {sp:.3f}× — "
        f"efficiency {eff:.3f}" + (" (target ≥ 0.8)" if target else "")
        for lo, hi, sp, eff in trans
    ]


def _loadavg(r: dict) -> str:
    before = r.get("host_loadavg_before")  # absent from round-3 records
    before = " ".join(f"{x:.2f}" for x in before) if before else "—"
    return f"{before} → {' '.join(r['host_loadavg_after'])}"


def summarize(path: str) -> str:
    """The markdown summary of one record file."""
    recs = load_records(path)
    by = latest(recs)
    lines = [f"## Scaling at N vs 4N parallelism: `{os.path.basename(path)}`"]
    for v in dict.fromkeys(r["variant"] for r in recs):
        rows = [by[c, var] for c, var in sorted(by) if var == v]
        first = rows[0]
        scored = first.get("scored_triples")
        lines += [
            "",
            f"### `{v}`: {first['n_turns']:,} turns, "
            f"{first['input_partitions']} input partitions"
            + (f", {scored:,} scored candidates" if scored else ""),
            "",
            "Per-occurrence scoring (`score_distinct=False`); wall sec is the "
            "min of all runs:",
            "",
            "| parallelism | wall sec | turns/sec | triples/sec | "
            "shuffle.partitions | all runs (sec) | loadavg before → after |",
            "|---|---|---|---|---|---|---|",
        ]
        lines += [
            f"| local[{r['cpus']}] | {r['sec']} | {r['turns_per_sec']} | "
            f"{r.get('triples_per_sec', '—')} | {r['shuffle_partitions']} | "
            f"{r['all_runs_sec']} | {_loadavg(r)} |"
            for r in rows
        ]
        lines += ["", *_trans_lines(transitions(by, v, "sec"), True), ""]
        lines += [
            "Dedup-before-inference default (`score_distinct=True`):",
            "",
            "| parallelism | wall sec | turns/sec | all runs (sec) |",
            "|---|---|---|---|",
        ]
        lines += [
            f"| local[{r['cpus']}] | {r['sec_dedup']} | "
            f"{r['turns_per_sec_dedup']} | {r['all_runs_dedup_sec']} |"
            for r in rows
        ]
        lines += ["", *_trans_lines(transitions(by, v, "sec_dedup"), False)]

    # A/B: variants measured on the same input (equal turns) at one level
    ab = []
    for c in sorted({c for c, _ in by}):
        at = [by[k] for k in by if k[0] == c]
        for i, a in enumerate(at):
            for b in at[i + 1:]:
                if a["n_turns"] == b["n_turns"]:
                    ab.append(
                        f"- local[{c}] `{a['variant']}` → `{b['variant']}`: "
                        f"per-occurrence {a['sec']} s → {b['sec']} s "
                        f"({a['sec'] / b['sec']:.3f}×), dedup {a['sec_dedup']} s "
                        f"→ {b['sec_dedup']} s "
                        f"({a['sec_dedup'] / b['sec_dedup']:.3f}×)"
                    )
    if ab:
        lines += ["", "### A/B between variants on the same input", "", *ab]

    costs = fixed_costs(by)
    if costs:
        lines += ["", "### Fixed job cost: `refcap` vs `refcap4x`, t = c + k·n", ""]
        lines += [
            f"- local[{c}]: fixed job cost {fixed:.2f} s, marginal "
            f"{1 / k:,.0f} turns/s (t1x={by[c, 'refcap']['sec']} s @ "
            f"{by[c, 'refcap']['n_turns']:,} turns, "
            f"t4x={by[c, 'refcap4x']['sec']} s @ {by[c, 'refcap4x']['n_turns']:,} turns)"
            for c, (fixed, k) in costs.items()
        ]
        marginal = [
            (lo, hi, costs[lo][1] / costs[hi][1])
            for lo, hi in zip(costs, list(costs)[1:])
        ]
        lines += [
            f"- marginal cost local[{lo}] → local[{hi}] ({hi / lo:g}×): "
            f"speedup {sp:.3f}× — efficiency {sp / (hi / lo):.3f}"
            for lo, hi, sp in marginal
        ]
    lines += [
        "",
        f"Config: Spark {recs[0]['spark']}, AQE on (coalesce + skew join), "
        "Arrow batch 4096 rows, 16 MB splits. "
        "All levels share one memory bus (docs/SCALE.md §7): 2→8 is the "
        "representative N→4N transition, 8→32 is bandwidth-roofed.",
    ]
    return "\n".join(lines) + "\n"


def run(out_path: str, redo: list[tuple[int, str]]) -> int:
    plan = redo or [(c, v) for c in LEVELS for v in VARIANTS]
    unknown = sorted({v for _, v in plan} - set(VARIANTS))
    if unknown:
        print(f"unknown variant(s) {unknown}; one of {list(VARIANTS)}", file=sys.stderr)
        return 2
    done = set()
    if os.path.exists(out_path) and not redo:
        done = set(latest(load_records(out_path)))
    for n_convs in sorted({VARIANTS[v][0] for c, v in plan if (c, v) not in done}):
        ensure_corpus(n_convs)

    for cpus, variant in plan:
        if (cpus, variant) in done:
            print(f"local[{cpus}] {variant}: already recorded, skipping", file=sys.stderr)
            continue
        load_before = list(os.getloadavg())
        t0 = time.time()
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--worker", str(cpus), variant],
            capture_output=True,
            text=True,
            timeout=3600,
            cwd=REPO,
        )
        line = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""
        try:
            rec = json.loads(line) if out.returncode == 0 else None
        except json.JSONDecodeError:
            rec = None
        if rec is None:
            print(
                f"worker {cpus} {variant} FAILED (exit {out.returncode}, last "
                f"stdout line: {line[:200]!r}):\n{out.stderr[-3000:]}",
                file=sys.stderr,
            )
            return 1
        rec["host_loadavg_before"] = load_before
        rec["wall_total_sec"] = round(time.time() - t0, 1)
        with open(out_path, "a") as f:
            f.write(json.dumps(rec) + "\n")
        print(
            f"local[{cpus}] {variant}: sec={rec['sec']} runs={rec['all_runs_sec']} "
            f"dedup={rec['sec_dedup']}",
            file=sys.stderr,
        )
    print(summarize(out_path))
    return 0


if __name__ == "__main__":
    args = sys.argv[1:]
    if len(args) == 3 and args[0] == "--worker":
        worker(int(args[1]), args[2])
    elif len(args) >= 2 and args[0] == "summarize":
        print("\n".join(summarize(p) for p in args[1:]))
    elif args[0:1] and args[0].endswith(".jsonl") and (
        len(args) == 1 or (len(args) == 3 and args[1] == "--redo")
    ):
        keys = args[2].split(",") if len(args) == 3 else []
        raise SystemExit(run(args[0], [(int(c), v) for c, v in (k.split(":") for k in keys)]))
    else:
        raise SystemExit(__doc__.split("Usage:")[1])
