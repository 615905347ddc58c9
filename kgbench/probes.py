"""Measurement helpers: process-tree CPU and memory read from /proc, Spark
counters read from an uncompressed event log, and an in-memory span
recorder for the traced run."""

from __future__ import annotations

import json
import os
import signal
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

_CLK = os.sysconf("SC_CLK_TCK")
RSS_INTERVAL_S = 0.1     # RSS sampling period
RSS_REFRESH_S = 1.0      # how often the sampled process tree is re-listed
STOP_TIMEOUT_S = 30.0    # wait this long for processes to exit, then SIGKILL


def _proc_table() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, CPU seconds incl. reaped children) for every process."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # fields after "comm)": state ppid ... utime(14) stime cutime cstime
        fields = stat[stat.rindex(")") + 2 :].split()
        cpu = sum(int(x) for x in fields[11:15]) / _CLK
        table[int(name)] = (int(fields[1]), cpu)
    return table


def cpu_times(cpus: list[int]) -> list[int]:
    """CPU tick counters (user ... steal) from /proc/stat, summed over the
    CPUs in ``cpus``."""
    with open("/proc/stat") as f:
        lines = [line.split() for line in f if line.startswith("cpu")]
    wanted = {f"cpu{c}" for c in cpus}
    rows = [[int(x) for x in line[1:9]] for line in lines if line[0] in wanted]
    return [sum(col) for col in zip(*rows)]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    cpu_times() readings: host interference that no code change causes."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(sum(delta), 1)


def _tree(table: dict[int, tuple[int, float]]) -> list[int]:
    """This process and its live descendants, from a _proc_table()."""
    kids = defaultdict(list)
    for pid, (ppid, _) in table.items():
        kids[ppid].append(pid)
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_pids() -> list[int]:
    """This process and all of its live descendants."""
    return _tree(_proc_table())


def tree_cpu_s() -> float:
    """CPU seconds used so far by the process tree: the driver, the JVM and
    the Python workers it forks. Workers that exited count through their
    parent's reaped-children time."""
    table = _proc_table()
    return sum(table[pid][1] for pid in _tree(table) if pid in table)


class RssSampler:
    """Peak summed RSS of the process tree, sampled in a background thread
    every RSS_INTERVAL_S while the ``with`` block runs. The tree is re-listed
    every RSS_REFRESH_S, so short-lived Python workers are counted while they
    coexist with the JVM."""

    def __init__(self):
        self.peak_mb = 0.0
        self.peak_by_process: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def _run(self) -> None:
        page_mb = os.sysconf("SC_PAGE_SIZE") / (1024.0 * 1024.0)
        pids: list[int] = []
        refresh_at = 0.0
        while True:
            now = time.monotonic()
            if now >= refresh_at:
                pids, refresh_at = tree_pids(), now + RSS_REFRESH_S
            sample = {}
            for pid in pids:
                try:
                    with open(f"/proc/{pid}/statm") as f:
                        sample[pid] = int(f.read().split()[1]) * page_mb
                except OSError:
                    pass
            total = sum(sample.values())
            if total > self.peak_mb:
                self.peak_mb, self.peak_by_process = total, sample
            if self._stop.wait(RSS_INTERVAL_S):
                return


def stop_tree(pids: list[int]) -> None:
    """Wait for ``pids`` to exit; SIGKILL whatever outlives STOP_TIMEOUT_S."""
    deadline = time.monotonic() + STOP_TIMEOUT_S
    live = [p for p in pids if os.path.exists(f"/proc/{p}")]
    while live and time.monotonic() < deadline:
        time.sleep(0.1)
        live = [p for p in live if _alive(p)]
    for pid in live:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    while any(_alive(p) for p in live):
        time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    return state != "Z"


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


def eventlog_counters(log_dir: str) -> tuple[dict[str, dict], dict[str, list]]:
    """Parse the (uncompressed) event log of the one application in
    ``log_dir``. Returns per job group: jobs, tasks, task run seconds,
    shuffle write/read MiB and disk spill MiB; and per job group the task
    run times (seconds) of each stage, for skew."""
    # Spark 4 writes the log as a directory of numbered "events_<n>_<app>"
    # files (plus a status marker).
    apps = os.listdir(log_dir)
    if len(apps) != 1:
        raise RuntimeError(f"expected one application log in {log_dir}, found {apps}")
    app_dir = os.path.join(log_dir, apps[0])
    files = sorted(
        (f for f in os.listdir(app_dir) if f.startswith("events_")),
        key=lambda f: int(f.split("_")[1]),
    )
    stage_group: dict[int, str] = {}
    counters: dict[str, dict] = defaultdict(
        lambda: {
            "jobs": 0,
            "tasks": 0,
            "task_run_s": 0.0,
            "shuffle_write_mb": 0.0,
            "shuffle_read_mb": 0.0,
            "spill_mb": 0.0,
        }
    )
    stage_tasks: dict[str, dict[int, list[float]]] = defaultdict(lambda: defaultdict(list))
    mib = 1024.0 * 1024.0
    for ev in _events(app_dir, files):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "-"
            counters[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            group = stage_group.get(sid, "-")
            tm = ev.get("Task Metrics") or {}
            run_s = tm.get("Executor Run Time", 0) / 1000.0
            c = counters[group]
            c["tasks"] += 1
            c["task_run_s"] += run_s
            sw = tm.get("Shuffle Write Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            c["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / mib
            c["shuffle_read_mb"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) / mib
            c["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / mib
            stage_tasks[group][sid].append(run_s)
    return dict(counters), {g: list(s.values()) for g, s in stage_tasks.items()}


def _events(app_dir: str, files: list[str]):
    for name in files:
        with open(os.path.join(app_dir, name)) as f:
            for line in f:
                yield json.loads(line)


def task_skew(stages: list[list[float]]) -> float:
    """max / mean task time of the stage with the most task time (1.0 =
    perfectly even; 0.0 when no task ran)."""
    if not stages:
        return 0.0
    heaviest = max(stages, key=sum)
    mean = sum(heaviest) / len(heaviest)
    return max(heaviest) / mean if mean > 0 else 1.0


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


class Tracer:
    """Records spans (name, start, end, parent) in memory. A span also runs
    its Spark jobs under a job group named after it, so event-log counters
    can be attributed to it; ``spark=False`` skips that for driver-only
    spans, where the two JVM calls would cost more than the work timed."""

    def __init__(self, trace_id: str, sc):
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = sc
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, spark: bool = True):
        rec = {
            "trace": self.trace_id,
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter() - self._t0,
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if spark:
            self._sc.setJobGroup(name, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            if spark and self._stack:
                parent = self.spans[self._stack[-1]]["name"]
                self._sc.setJobGroup(parent, parent)
            elif spark:
                self._sc.setLocalProperty("spark.jobGroup.id", None)

    def with_self_times(self) -> list[dict]:
        """Spans with ``duration`` and ``self`` (duration minus the time its
        direct children cover; children are sequential here)."""
        child_total = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_total[s["parent"]] += s["end"] - s["start"]
        out = []
        for s in self.spans:
            d = s["end"] - s["start"]
            out.append({**s, "duration": d, "self": d - child_total[s["id"]]})
        return out

