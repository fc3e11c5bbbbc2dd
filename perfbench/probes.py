"""Measurement from outside the engine: process-tree CPU, spans, and Spark job
attribution from the status store.

Nothing here reaches into the engine's code. CPU comes from ``/proc`` for the
benchmark's whole process tree; Spark counts come from the driver's status
store (``SparkContext.statusStore``), which answers with the UI disabled.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")
KINDS = ("driver", "jvm", "worker")


def process_age_s() -> float:
    """Seconds since this process started (``/proc/self/stat`` starttime)."""
    with open("/proc/self/stat") as f:
        stat = f.read()
    start = int(stat[stat.rfind(")") + 2:].split()[19]) / _TICK
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start


def host_steal_s() -> float:
    """CPU time the hypervisor took from this machine since boot, all CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def _table() -> dict[int, tuple[int, str, float]]:
    """pid -> (ppid, comm, CPU seconds incl. reaped children) for all pids."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        r = stat.rfind(")")
        fields = stat[r + 2:].split()
        cpu = sum(int(x) for x in fields[11:15]) / _TICK  # utime stime cutime cstime
        out[int(name)] = (int(fields[1]), stat[stat.find("(") + 1:r], cpu)
    return out


def descendants(root: int = 0) -> list[int]:
    root = root or os.getpid()
    table = _table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = [], list(kids.get(root, []))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, []))
    return out


def tree_cpu() -> dict[str, float]:
    """CPU seconds of this process tree by kind: this driver process, the JVM
    (``java``) and everything else (the Python worker daemon and workers).
    Reaped children count toward their parent, so exited workers stay in."""
    me = os.getpid()
    table = _table()
    out = dict.fromkeys(KINDS, 0.0)
    out["driver"] = table.get(me, (0, "", 0.0))[2]
    for pid in descendants(me):
        if pid in table:
            _, comm, cpu = table[pid]
            out["jvm" if comm == "java" else "worker"] += cpu
    return out


def cpu_delta(a: dict[str, float], b: dict[str, float]) -> dict[str, float]:
    return {k: b[k] - a[k] for k in KINDS}


class SparkCounts:
    """Jobs, stages, tasks, executor time and bytes of the Spark jobs
    submitted between two calls, read from the driver's status store."""

    FIELDS = ("spark_jobs", "stages", "tasks", "executor_run_ms",
              "executor_cpu_ms", "shuffle_read_bytes", "shuffle_write_bytes",
              "input_bytes")

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._last = self._newest()

    def _newest(self) -> int:
        self._sc.listenerBus().waitUntilEmpty()
        jobs = self._store.jobsList(None)  # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    def take(self) -> dict[str, float]:
        """Counts for every job submitted since the previous ``take``."""
        self._sc.listenerBus().waitUntilEmpty()
        jobs = self._store.jobsList(None)
        out = dict.fromkeys(self.FIELDS, 0.0)
        stage_ids = set()
        newest = self._last
        for i in range(jobs.size()):
            job = jobs.apply(i)
            jid = job.jobId()
            if jid <= self._last:
                break
            newest = max(newest, jid)
            out["spark_jobs"] += 1
            sids = job.stageIds()
            stage_ids.update(sids.apply(j) for j in range(sids.size()))
        self._last = newest
        for sid in stage_ids:
            st = self._store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            out["executor_run_ms"] += st.executorRunTime()
            out["executor_cpu_ms"] += st.executorCpuTime() / 1e6
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["input_bytes"] += st.inputBytes()
        return out


class Tracer:
    """Spans around the benchmark's calls into the engine.

    A span records name, start, end, parent span, request id, the process
    tree's CPU by kind and, for leaf calls, the Spark counts of the jobs they
    submitted. Each traced call runs under its own Spark job group. Spans
    stay in memory until :meth:`dump`. Disabled, ``span`` only yields."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._spark = spark
        self._counts = SparkCounts(spark) if enabled else None

    @contextmanager
    def span(self, name: str, request: str | None = None, spark_counts: bool = True):
        if not self.enabled:
            yield None
            return
        rec = {"name": name, "request": request,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        if spark_counts:
            self._counts.take()  # close the window of whatever ran before
            self._spark.sparkContext.setJobGroup(
                f"perfbench:{name}:{request or len(self.spans)}", name)
        cpu0 = tree_cpu()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["cpu"] = cpu_delta(cpu0, tree_cpu())
            if spark_counts:
                rec["spark"] = self._counts.take()
            self._stack.pop()

    def of(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)
