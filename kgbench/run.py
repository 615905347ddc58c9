#!/usr/bin/env python3
"""Benchmark of the relex_spark engine on one workload.

    python3 kgbench/run.py --workload kg_refcap --seed 1 --seconds 10 --trace 0

Closed loop: one driver process pinned to BENCH_CPUS CPUs, local[N] on those
N CPUs, one pass at a time, back to back, for ``--seconds``. Times are wall
seconds net of hypervisor steal on those CPUs (see net_s). Every pass's
output is checked against the reference digests pinned for the seed in
kgbench/pins.json (written by kgbench/pin.py); for a seed without a pin the
reference is computed in the run, after the timed passes. With
``--trace 0`` the last stdout line is a JSON object carrying the end-to-end
metrics; with ``--trace 1`` a separate traced run (event log on, stages run
one at a time) carries the per-layer metrics and writes its spans to
``.kgbench_work/traces/``. See kgbench/README.md for the metric table.
"""

from __future__ import annotations

import os

# One BLAS thread on the driver, set before numpy loads, as get_spark does
# for the Python workers: the driver-side kernel spans must time the kernel
# the workers run.
for _var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ[_var] = "1"

import argparse  # noqa: E402
import json  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import time  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".kgbench_work")
PINS = os.path.join(ROOT, "kgbench", "pins.json")

END_TO_END = {
    "setup_s": "s",
    "pass_s.p50": "s",
    "pass_s.tail": "s",
    "triples_per_s": "1/s",
    "cpu_s": "s",
}
SPARK_COUNTERS = {
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.task_run_s": "s",
    "spark.shuffle_write_mb": "MiB",
    "spark.shuffle_read_mb": "MiB",
    "spark.spill_mb": "MiB",
}
PER_LAYER = {
    "session.start_s": "s",
    "sources.scan_s": "s",
    "candidates.detect_mentions_s": "s",
    "candidates.pairs_s": "s",
    "candidates.mentions": "count",
    "candidates.candidates": "count",
    "kg_pipeline.build_call_s": "s",
    "kg_pipeline.build_call_jobs": "count",
    "kg_pipeline.dedup_s": "s",
    "kg_pipeline.joinback_s": "s",
    "kg_pipeline.distinct_inputs": "count",
    "kg_pipeline.kernel_useful_ratio": "ratio",
    "scorer.score_s": "s",
    "scorer.task_skew": "ratio",
    "scorer.arrow_roundtrip_s": "s",
    "kernels.token_ids_s": "s",
    "kernels.pad_s": "s",
    "kernels.embed_s": "s",
    "kernels.cnn_encode_s": "s",
    "kernels.ff_softmax_s": "s",
    "kernels.forward_s": "s",
    "kernels.rows_per_s": "1/s",
    "kernels.padding_efficiency": "ratio",
    "canonicalize.cc_s": "s",
    "canonicalize.triples_s": "s",
    "canonicalize.canonical_triples": "count",
    "sinks.write_scored_s": "s",
    "sinks.write_canonical_s": "s",
    "sinks.read_stage_s": "s",
    "sinks.bytes_written_mb": "MiB",
    "driver_queries.dedup_ngram_jaccard_s": "s",
    "driver_queries.x_lm_score_s": "s",
    "driver_queries.v1_token_vocab_s": "s",
    "driver_queries.dedup_minhash_lsh_s": "s",
    "driver_queries.q1_pricing_summary_s": "s",
    "driver_queries.q3_order_revenue_s": "s",
    "driver_queries.x_negative_samples_s": "s",
    **SPARK_COUNTERS,
    "trace.traced_pass_s": "s",
    "trace.untraced_pass_s": "s",
    "trace.overhead_ratio": "ratio",
    "memory.peak_rss_mb": "MiB",
}
# Untraced passes in the traced run: they give the untraced pass time and
# the per-pass Spark counters.
TRACE_UNTRACED_PASSES = 2
# A timed run measures at least this many passes, however long they take.
MIN_PASSES = 2
# Untimed passes in set-up. The first pass of a session is the cold one
# (Python workers start, weights are broadcast): three to four times a warm
# pass. The second is still 10-30% slower than the third (the JIT is
# compiling); after it a pass's time falls by about 5% a pass, so more
# warm-up passes would shift pass_s a little but cost a pass in every run.
WARM_UP_PASSES = 2
# CPUs the benchmark pins itself (and so the JVM and the Python workers) to.
# On a 4-vCPU guest of a shared host, local[4] spread pass_s.p50 over 0.32
# of its median across seeds and local[2] on two pinned CPUs over 0.24, with
# passes 20% faster: the JVM's own threads and the driver have room beside
# the tasks, and fewer idle vCPUs have to be woken by the host.
BENCH_CPUS = 2


def log(*args) -> None:
    print(*args, file=sys.stderr, flush=True)


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it. Below 21 samples that percentile would not lie above
    the median, so the slowest sample (p100) is reported instead."""
    s = sorted(samples)
    n = len(s)
    if n > 20:
        return s[n - 11], 100.0 * (n - 10) / n
    return s[-1], 100.0


def net_s(wall_s: float, steal: float) -> float:
    """Wall seconds net of hypervisor steal: ``steal`` is the share of the
    benchmark CPUs' time the host gave to other guests meanwhile (time in
    which this program could not run, whatever it does). On a shared host
    it ranged from 3% to 26% between runs minutes apart and moved raw pass
    times by as much; the net time is what a code change can move."""
    return wall_s * (1.0 - steal)


def bench_cpus() -> list[int]:
    return sorted(os.sched_getaffinity(0))


def prepare_environment(run_dir: str, cpus: int) -> None:
    """Keep every file Spark, the JVM and the workers write inside the
    checkout, and ship the package path to the Python workers explicitly
    (they do not inherit the driver's sys.path)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # the inputs are small; a 2 GiB heap cap keeps the JVM modest on a
    # shared host (the engine's default is 8 GiB)
    os.environ["RELEX_DRIVER_MEM"] = "2g"
    os.environ["RELEX_JAVA_OPTS"] = f"-Djava.io.tmpdir={tmp}"
    # no hsperfdata files in /tmp from the launcher or driver JVM
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"


def start_session(run_dir: str, cpus: int, eventlog_dir: str | None):
    from relex_spark import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if eventlog_dir:
        os.makedirs(eventlog_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + eventlog_dir,
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark("kgbench", master=f"local[{cpus}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait until every process it started has
    exited."""
    from pyspark import SparkContext

    from kgbench.probes import stop_tree, tree_pids

    started = [p for p in tree_pids() if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    stop_tree(started)


def timed_pass(wl, index: int, passes: list[dict]) -> None:
    """Run, time and record one pass; an exception counts as a failed pass."""
    from kgbench.probes import cpu_times, steal_share, tree_cpu_s

    cpus = bench_cpus()
    ticks, cpu0, t0 = cpu_times(cpus), tree_cpu_s(), time.perf_counter()
    try:
        result = wl.run_pass(index)
        error = None
    except Exception:  # noqa: BLE001 - a failing pass is counted, not fatal
        result, error = None, traceback.format_exc()
        log(error)
    wall, cpu = time.perf_counter() - t0, tree_cpu_s() - cpu0
    steal = steal_share(ticks, cpu_times(cpus))
    wl.after_pass(index)
    passes.append({"wall_s": wall, "net_s": net_s(wall, steal), "cpu_s": cpu, "steal": steal,
                   "result": result, "error": error})


def check(passes: list[dict], ref: dict) -> int:
    """Mark each pass ok or not against the reference; return failures."""
    failed = 0
    for p in passes:
        problems = [p["error"]] if p["error"] else []
        if p["result"] is not None:
            problems += p["result"].problems
            for key, digest in p["result"].digests.items():
                if digest != ref["digests"].get(key):
                    problems.append(f"{key} digest mismatch")
        p["problems"] = problems
        failed += bool(problems)
    return failed


def run_timed(wl, seconds: float):
    """The closed loop: passes back to back until ``seconds`` have elapsed
    and at least MIN_PASSES have run. Returns the passes and the RSS
    sampler."""
    from kgbench.probes import RssSampler

    passes: list[dict] = []
    deadline = time.perf_counter() + seconds
    with RssSampler() as rss:
        while len(passes) < MIN_PASSES or time.perf_counter() < deadline:
            timed_pass(wl, len(passes), passes)
    return passes, rss


def run_traced(wl, spark, trace_id: str):
    """Untraced passes (for the untraced time and Spark counters), then one
    traced stage-at-a-time pass. Returns passes, counts and the tracer."""
    from kgbench.probes import RssSampler, Tracer

    sc = spark.sparkContext
    passes: list[dict] = []
    with RssSampler() as rss:
        for i in range(TRACE_UNTRACED_PASSES):
            sc.setJobGroup(f"untraced-{i}", "untraced pass")
            timed_pass(wl, i, passes)
    sc.setLocalProperty("spark.jobGroup.id", None)
    tracer = Tracer(trace_id, sc)
    t0 = time.perf_counter()
    try:
        result, counts = wl.trace_pass(tracer)
        error = None
    except Exception:  # noqa: BLE001 - a failing pass is counted, not fatal
        result, counts, error = None, {}, traceback.format_exc()
        log(error)
    passes.append(
        {"wall_s": time.perf_counter() - t0, "net_s": None, "cpu_s": None, "steal": None,
         "result": result, "error": error, "traced": True}
    )
    counts["memory.peak_rss_mb"] = rss.peak_mb
    return passes, counts, tracer


def layer_metrics(tracer, counts: dict, eventlog_dir: str, passes: list[dict],
                  session_start_s: float) -> dict:
    from kgbench.probes import eventlog_counters, task_skew

    spans = tracer.with_self_times()
    values = {name: 0.0 for name in PER_LAYER}
    for s in spans:
        metric = s["name"] + "_s"
        if metric in values:
            values[metric] += s["self"]
    values["session.start_s"] = session_start_s
    values.update(counts)
    groups, stage_tasks = eventlog_counters(eventlog_dir)
    untraced = [groups.get(f"untraced-{i}", {}) for i in range(TRACE_UNTRACED_PASSES)]
    for metric in SPARK_COUNTERS:
        key = metric.split(".", 1)[1]
        values[metric] = statistics.median(g.get(key, 0) for g in untraced)
    values["scorer.task_skew"] = task_skew(stage_tasks.get("scorer.score", []))
    untraced_walls = [p["net_s"] for p in passes if not p.get("traced")]
    traced_pass = sum(s["duration"] for s in spans if s["name"] == "pass")
    values["trace.traced_pass_s"] = traced_pass
    values["trace.untraced_pass_s"] = statistics.median(untraced_walls)
    values["trace.overhead_ratio"] = traced_pass / values["trace.untraced_pass_s"]
    return values


def load_pin(workload: str, seed: int) -> dict | None:
    """The reference pinned for this workload and seed, if there is one."""
    if not os.path.isfile(PINS):
        return None
    with open(PINS) as f:
        return json.load(f).get(workload, {}).get(str(seed))


def run_context(args, cpus: int, spark_version: str, loadavg: dict, inputs: dict, ref: dict) -> dict:
    import numpy
    import pyarrow

    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "pinned_cpus": bench_cpus(),
        "master": f"local[{cpus}]",
        "spark": spark_version,
        "numpy": numpy.__version__,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
        "blas_threads": {v: os.environ.get(v) for v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS")},
        "loadavg": loadavg,
        "inputs": {**inputs, **ref["counts"]},
        "reference": ref["source"],
    }


def measure(args, wl, cpus: int, run_dir: str, t_start: float) -> dict:
    """Set up, run the measured phase, check every pass and return the
    result record (metrics, context, passes)."""
    from kgbench.probes import cpu_times, steal_share

    eventlog_dir = os.path.join(run_dir, "eventlog") if args.trace else None
    loadavg = {"start": os.getloadavg()}
    ticks = cpu_times(bench_cpus())
    spark = start_session(run_dir, cpus, eventlog_dir)
    session_start_s = time.perf_counter() - t_start
    try:
        t0 = time.perf_counter()
        inputs = wl.setup(spark, args.seed, run_dir)
        t1 = time.perf_counter()
        for i in range(WARM_UP_PASSES):
            wl.run_pass(-1 - i)
            wl.after_pass(-1 - i)
        setup_wall = time.perf_counter() - t_start
        setup_steal = steal_share(ticks, cpu_times(bench_cpus()))
        setup_parts = {"session_s": session_start_s, "inputs_s": t1 - t0,
                       "warm_up_s": time.perf_counter() - t1, "wall_s": setup_wall,
                       "steal": setup_steal}
        loadavg["after_setup"] = os.getloadavg()

        if args.trace:
            passes, counts, tracer = run_traced(wl, spark, f"{args.workload}-{args.seed}")
        else:
            passes, rss = run_timed(wl, args.seconds)
        loadavg["end"] = os.getloadavg()
        ref = load_pin(args.workload, args.seed)
        if ref is not None:
            ref["source"] = "pinned"
        else:
            log(f"no pin for seed {args.seed} in {PINS}; computing the reference in-run")
            ref = {**wl.reference(), "source": "in-run"}
        spark_version = spark.version
    finally:
        stop_session(spark)
    failed = check(passes, ref)
    times = [p["net_s"] for p in passes if not p.get("traced")]

    context = run_context(args, cpus, spark_version, loadavg, inputs, ref)
    context["setup_parts"] = setup_parts
    context["cpu_steal_share"] = steal_share(ticks, cpu_times(bench_cpus()))
    record = {"context": context, "attempted": len(passes), "failed": failed,
              "failed_ratio": failed / len(passes)}
    if args.trace:
        values = layer_metrics(tracer, counts, eventlog_dir, passes, session_start_s)
        units = PER_LAYER
        record["spans"] = tracer.with_self_times()
    else:
        tail_s, record["pass_s.tail_percentile"] = tail(times)
        p50 = statistics.median(times)
        triples = statistics.median([p["result"].triples for p in passes if p["result"]] or [0])
        values = {
            "setup_s": net_s(setup_wall, setup_steal),
            "pass_s.p50": p50,
            "pass_s.tail": tail_s,
            "triples_per_s": triples / p50,
            "cpu_s": statistics.median(p["cpu_s"] for p in passes),
        }
        units = END_TO_END
        context["raw_wall"] = {"setup_s": setup_wall,
                               "pass_s.p50": statistics.median(p["wall_s"] for p in passes)}
        context["peak_rss_mb"] = rss.peak_mb
        context["peak_rss_mb_by_pid"] = rss.peak_by_process
    record["metrics"] = {k: {"value": values[k], "unit": units[k]} for k in units}
    record["passes"] = [
        {k: p[k] for k in ("wall_s", "net_s", "cpu_s", "steal", "problems")} for p in passes
    ]
    context["total_s"] = time.perf_counter() - t_start
    return record


def save(record: dict, stem: str) -> None:
    """Full result under results/, spans (traced run) under traces/."""
    spans = record.pop("spans", None)
    for sub, doc in (("results", record), ("traces", spans)):
        if doc is not None:
            os.makedirs(os.path.join(WORK, sub), exist_ok=True)
            with open(os.path.join(WORK, sub, stem + ".json"), "w") as f:
                json.dump(doc, f, indent=1)


def report(record: dict) -> None:
    """Human-readable lines, then the result JSON as the last stdout line."""
    c = record["context"]
    for p in record["passes"]:
        for problem in p["problems"]:
            log(f"FAILED pass: {problem.strip().splitlines()[-1]}")
    print(f"workload {c['workload']}  seed {c['seed']}  {c['master']}  "
          f"passes {record['attempted']}  failed {record['failed']}  "
          f"failed_ratio {record['failed_ratio']:.4f}")
    if "pass_s.tail_percentile" in record:
        print(f"pass_s.tail is p{record['pass_s.tail_percentile']:.0f} of {record['attempted']} passes")
    print(f"inputs {json.dumps(c['inputs'], sort_keys=True)}")
    print(f"reference digests: {c['reference']}")
    if "raw_wall" in c:
        print(f"raw wall seconds: setup {c['raw_wall']['setup_s']:.3f}, pass p50 "
              f"{c['raw_wall']['pass_s.p50']:.3f}; steal on CPUs {c['cpu_steal_share']:.3f}; "
              f"peak RSS {c['peak_rss_mb']:.0f} MiB")
    for name, m in record["metrics"].items():
        print(f"  {name:40s} {m['value']:14.4f} {m['unit']}")
    result = {k: record[k] for k in ("attempted", "failed", "metrics")}
    print(json.dumps({"correct": record["failed"] == 0, **result}), flush=True)


def main(argv: list[str] | None = None) -> int:
    t_start = time.perf_counter()
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "relex_spark", "__init__.py")):
        log(f"relex_spark package not found beside kgbench/ in {ROOT}")
        return 2
    sys.path.insert(0, ROOT)
    from kgbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2

    os.sched_setaffinity(0, bench_cpus()[:BENCH_CPUS])
    cpus = len(bench_cpus())
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_environment(run_dir, cpus)
    try:
        record = measure(args, WORKLOADS[args.workload], cpus, run_dir, t_start)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    save(record, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    report(record)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
