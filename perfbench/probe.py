"""Readings taken from outside the program: the JVM through py4j, Spark's
public status APIs, and /proc for the run's own processes (the JVM the
session launched and the Python workers under it)."""

from __future__ import annotations

import os
import re

_HZ = os.sysconf("SC_CLK_TCK")
_MB = 1024 * 1024
_UNITS = {
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"(-?[\d.,]+)\s*(B|KiB|MiB|GiB|TiB|ns|ms|s|m|h)\b")


def jvm_pid(spark) -> int:
    """Pid of the driver JVM (spark-submit execs java in the process the
    gateway launched)."""
    return spark.sparkContext._gateway.proc.pid


def children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
    except OSError:
        pass
    return out


def descendants(pid: int) -> list[int]:
    todo, seen = [pid], []
    while todo:
        for c in children(todo.pop()):
            seen.append(c)
            todo.append(c)
    return seen


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def cpu_s(pid: int) -> float:
    """utime + stime of a process plus those of its reaped children."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    return sum(int(fields[i]) for i in (11, 12, 13, 14)) / _HZ


def peak_rss_mb(pid: int) -> tuple[float, float, int]:
    """High-water RSS of the JVM and the summed high-water RSS of every
    process under it (the Python daemon and its workers), in MB, and the
    number of those processes."""
    procs = descendants(pid)
    return _status_kb(pid, "VmHWM") / 1024, sum(_status_kb(p, "VmHWM") for p in procs) / 1024, len(procs)


def python_cpu_s(pid: int) -> tuple[float, set[int]]:
    """CPU seconds of the Python processes under the JVM and their pids."""
    procs = set(descendants(pid))
    return sum(cpu_s(p) for p in procs), procs


def heap_live_mb(spark) -> float:
    """JVM heap in use after a full collection. Python's collector runs
    first, so py4j proxies of finished DataFrames release their JVM
    objects, and the JVM collects twice with a pause between, so Spark's
    context cleaner can drop the state those objects kept alive."""
    import gc
    import time

    jvm = spark.sparkContext._jvm
    gc.collect()
    jvm.System.gc()
    time.sleep(0.5)
    jvm.System.gc()
    used = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed()
    return used / _MB


def gc_s(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def retained(spark) -> tuple[int, float]:
    """(cached RDD partitions, MB they hold in memory and on disk)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return (
        sum(i.numCachedPartitions() for i in infos),
        sum(i.memSize() + i.diskSize() for i in infos) / _MB,
    )


def parse_metric(text: str | None) -> float:
    """Value of a formatted SQL metric ('1.3 s', '231.4 KiB', or the
    'total (min, med, max ...)' form whose second line starts with the
    total), in bytes or seconds."""
    if not text:
        return 0.0
    line = text.split("\n", 1)[1] if text.startswith("total") and "\n" in text else text
    m = _VALUE.search(line)
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)] if m else 0.0


# SQL metric names of the Python exec nodes -> per-layer metric
PY_METRICS = {
    "time to start Python workers": "operators.py_start_s",
    "time to initialize Python workers": "operators.py_init_s",
    "time to run Python workers": "operators.py_run_s",
    "data sent to Python workers": "operators.arrow_sent_mb",
    "data returned from Python workers": "operators.arrow_returned_mb",
}


class StatusReader:
    """Job, stage and SQL-execution metrics from the session's status store,
    read once the timed work is over."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._empty = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        self._store = self.sc._jsc.sc().statusStore()

    def jobs(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def stage_totals(self, job_ids: list[int]) -> dict[str, float]:
        tot = {"tasks": 0, "scan_mb": 0.0, "shuffle_mb": 0.0, "spill_mb": 0.0}
        tracker = self.sc.statusTracker()
        for jid in job_ids:
            for sid in tracker.getJobInfo(jid).stageIds:
                # a skipped stage (reused shuffle) has one attempt with 0 tasks
                it = self._store.stageData(sid, False, None, False, self._empty).iterator()
                while it.hasNext():
                    d = it.next()
                    tot["tasks"] += d.numCompleteTasks()
                    tot["scan_mb"] += d.inputBytes() / _MB
                    tot["shuffle_mb"] += d.shuffleWriteBytes() / _MB
                    tot["spill_mb"] += (d.memoryBytesSpilled() + d.diskBytesSpilled()) / _MB
        return tot

    def python_totals(self, job_ids: set[int]) -> dict[str, float]:
        """Python-node SQL metrics summed over the SQL executions that ran
        any of ``job_ids``."""
        tot = {v: 0.0 for v in PY_METRICS.values()}
        sql = self.spark._jsparkSession.sharedState().statusStore()
        it = sql.executionsList().iterator()
        while it.hasNext():
            ex = it.next()
            jit = ex.jobs().keys().iterator()
            ran = False
            while jit.hasNext():
                if int(jit.next()) in job_ids:
                    ran = True
                    break
            if not ran:
                continue
            values = sql.executionMetrics(ex.executionId())
            mit = ex.metrics().iterator()
            while mit.hasNext():
                m = mit.next()
                key = PY_METRICS.get(m.name())
                if key is None:
                    continue
                v = values.get(m.accumulatorId())
                x = parse_metric(v.get() if v.isDefined() else None)
                tot[key] += x / _MB if key.endswith("_mb") else x
        return tot


def tree_size(root: str) -> tuple[int, int]:
    """(files, bytes) under ``root``."""
    files = size = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            files += 1
            try:
                size += os.path.getsize(os.path.join(dirpath, n))
            except OSError:
                pass
    return files, size
