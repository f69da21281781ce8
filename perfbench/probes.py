"""Host and Spark probes for the benchmark: /proc sampling of the
process tree (CPU, resident memory, 1-minute loadavg) and a reader of
Spark's app status store that totals the work of one job group."""

from __future__ import annotations

import os
import statistics
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _CLK


def _proc_table() -> "tuple[dict[int, list[int]], dict[int, float], dict[int, int]]":
    """(children by parent pid, cpu seconds by pid, rss bytes by pid)."""
    children: "dict[int, list[int]]" = {}
    cpu: "dict[int, float]" = {}
    rss: "dict[int, int]" = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue
        rest = s[s.rindex(")") + 2:].split()
        pid = int(d)
        children.setdefault(int(rest[1]), []).append(pid)
        cpu[pid] = (int(rest[11]) + int(rest[12])) / _CLK
        rss[pid] = int(rest[21]) * _PAGE
    return children, cpu, rss


def descendants(root: int) -> "list[int]":
    children, _, _ = _proc_table()
    out, stack = [], list(children.get(root, []))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(children.get(p, []))
    return out


def tree_usage(root: int) -> "tuple[float, int]":
    """(cpu seconds, resident bytes) of root and every live descendant:
    the Python driver, the JVM and the Python workers."""
    children, cpu, rss = _proc_table()
    total_cpu, total_rss, stack = 0.0, 0, [root]
    while stack:
        p = stack.pop()
        total_cpu += cpu.get(p, 0.0)
        total_rss += rss.get(p, 0)
        stack.extend(children.get(p, []))
    return total_cpu, total_rss


class Sampler:
    """Background sampler of loadavg and process-tree memory.
    ``start_region``/``end_region`` bracket a timed region and yield its
    load evidence: the median 1-minute loadavg while it ran, the tree's
    own cores (CPU seconds over wall seconds) and the cores stolen by
    other guests, so a run polluted by neighbours is visible."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_rss = 0
        self._loads: "list[tuple[float, float]]" = []
        self._stop = threading.Event()
        self._track_rss = True
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self._loads.append((time.time(), loadavg_1m()))
            if self._track_rss:
                self.peak_rss = max(self.peak_rss, tree_usage(me)[1])
            self._stop.wait(self.interval)

    def freeze_rss(self) -> None:
        """Stop tracking peak memory (output checks after the clock
        stops do not count)."""
        self.peak_rss = max(self.peak_rss, tree_usage(os.getpid())[1])
        self._track_rss = False

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def start_region(self) -> "tuple[float, float, float]":
        return time.time(), tree_usage(os.getpid())[0], steal_seconds()

    def end_region(self, start: "tuple[float, float, float]") -> dict:
        t0, cpu0, steal0 = start
        t1 = time.time()
        cpu1 = tree_usage(os.getpid())[0]
        steal = (steal_seconds() - steal0) / max(t1 - t0, 1e-9)
        loads = [v for t, v in self._loads if t0 <= t <= t1] or [loadavg_1m()]
        own = (cpu1 - cpu0) / max(t1 - t0, 1e-9)
        load = statistics.median(loads)
        return {"wall_s": t1 - t0, "load_1m": load, "own_cores": own,
                "external_load": max(0.0, load - own), "steal_cores": steal}


class SparkGroupTrace:
    """Totals the Spark work of job groups from the app status store
    (it is populated with ``spark.ui.enabled=false`` too)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._jvm = self.sc._jvm
        self._n = 0

    def begin(self, layer: str) -> str:
        self._n += 1
        group = f"bench:{layer}:{self._n}"
        self.sc.setJobGroup(group, group)
        return group

    def end(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def totals(self, group: str, t0: float, t1: float, cores: int) -> dict:
        """Work of one group whose calls ran in [t0, t1] (epoch s)."""
        tot = {"jobs": 0, "stages": 0, "skipped_stages": 0, "tasks": 0, "failed_tasks": 0,
               "exec_cpu_s": 0.0, "gc_s": 0.0, "shuffle_read_bytes": 0,
               "shuffle_write_bytes": 0, "spill_bytes": 0}
        intervals: "list[tuple[float, float]]" = []
        no_status = self._jvm.java.util.ArrayList()
        no_quantiles = self.sc._gateway.new_array(self._jvm.double, 0)
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            job = self._store.job(jid)
            tot["jobs"] += 1
            tot["skipped_stages"] += job.numSkippedStages()
            sids = job.stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                attempts = self._store.stageData(sid, False, no_status, False, no_quantiles)
                for k in range(attempts.size()):
                    st = attempts.apply(k)
                    if st.status().toString() == "SKIPPED":
                        continue
                    tot["stages"] += 1
                    tot["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                    tot["failed_tasks"] += st.numFailedTasks()
                    tot["exec_cpu_s"] += st.executorCpuTime() / 1e9
                    tot["gc_s"] += st.jvmGcTime() / 1e3
                    tot["shuffle_read_bytes"] += st.shuffleReadBytes()
                    tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    tot["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                    sub, done = st.submissionTime(), st.completionTime()
                    if sub.isDefined() and done.isDefined():
                        intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
        tot["driver_only_s"] = max(0.0, (t1 - t0) - _union_within(intervals, t0, t1))
        tot["cpu_util"] = tot["exec_cpu_s"] / max((t1 - t0) * cores, 1e-9)
        return tot


def _union_within(intervals: "list[tuple[float, float]]", lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total
