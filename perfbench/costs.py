"""Spark-cost reader and Python-worker memory sampler.

``SparkCosts`` tags every job started inside ``with costs.group(name):``
with a Spark job group, then sums the per-stage metrics of those jobs from
the driver's status store (works with ``spark.ui.enabled=false``).  It is
deliberately small: a library-side profiler can replace it without
touching the workloads.

``WorkerRss`` samples ``/proc`` in a background thread and keeps the peak
of the summed resident memory of every Python process under the JVM: the
PySpark daemon and its forked workers, where Arrow batches and numpy
kernel matrices live.  ``PipelineCpu`` reads the CPU time of the process
tree from ``/proc``, less the JVM's JIT compiler threads.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

STAGE_FIELDS = ("executor_run_s", "shuffle_write_bytes", "spill_bytes", "peak_exec_mem_bytes")


class SparkCosts:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._seq = 0

    @contextmanager
    def group(self, name: str):
        """Run the body under a fresh job group; yields the group id."""
        self._seq += 1
        gid = f"perfbench-{self._seq}-{name}"
        self.sc.setJobGroup(gid, name)
        try:
            yield gid
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def read(self, gid: str) -> dict:
        """jobs, stages and summed stage metrics of one job group; the
        peak execution memory is the largest of any stage."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        jobs = list(tracker.getJobIdsForGroup(gid))
        stage_ids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = dict.fromkeys(STAGE_FIELDS, 0.0)
        stages = 0
        for sid in stage_ids:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # py4j: a skipped stage never got an attempt
                continue
            if str(st.status()) == "SKIPPED":
                continue
            stages += 1
            out["executor_run_s"] += st.executorRunTime() / 1000.0
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["peak_exec_mem_bytes"] = max(out["peak_exec_mem_bytes"], st.peakExecutionMemory())
        out["jobs"] = len(jobs)
        out["stages"] = stages
        return out


def _children() -> dict:
    """ppid -> [pid] over every process visible in /proc."""
    kids: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"python" in f.read().split(b"\0")[0]
    except OSError:
        return False


class WorkerRss:
    """Peak summed RSS of the Python descendants of ``jvm_pid``.

    The process tree is walked every ``rescan`` samples; in between only
    the known workers' ``statm`` is read, so the sampler thread stays a
    small fraction of one core and rarely holds the interpreter lock."""

    def __init__(self, jvm_pid: int, interval_s: float = 0.05, rescan: int = 10):
        self.jvm_pid = jvm_pid
        self.interval_s = interval_s
        self.rescan = rescan
        self.peak_bytes = 0
        self._pids: list = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def workers(self) -> list:
        kids = _children()
        todo, found = list(kids.get(self.jvm_pid, [])), []
        while todo:
            pid = todo.pop()
            todo.extend(kids.get(pid, []))
            if _is_python(pid):
                found.append(pid)
        return found

    def _loop(self) -> None:
        n = 0
        while not self._stop.is_set():
            if n % self.rescan == 0:
                self._pids = self.workers()
            n += 1
            self.peak_bytes = max(self.peak_bytes, sum(_rss_bytes(p) for p in self._pids))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False


def _cpu_ticks(pid: int) -> int:
    """utime + stime of ``pid`` plus those of its reaped children."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:  # exited between the tree walk and this read
        return 0
    return sum(int(x) for x in stat[stat.rindex(")") + 2 :].split()[11:15])


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root`` and every process under it.

    A descendant that exits is counted, once its parent has reaped it, in
    the parent's children times, so the difference of two readings is the
    CPU the tree spent between them.  Time the hypervisor gives to other
    tenants (steal) is not charged to the tree's processes."""
    kids, todo, ticks = _children(), [root], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        ticks += _cpu_ticks(pid)
    return ticks / os.sysconf("SC_CLK_TCK")


#: ``comm`` names (cut to 15 characters) of the JVM's JIT compiler threads
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


class PipelineCpu:
    """CPU seconds spent so far by this process and every process under it
    (the driver JVM, whose threads are also the executors, and the Python
    workers), and the part of them spent by the JVM's JIT compiler threads.

    Compilation is the JVM warming up: about 20 s of CPU in a cold pass,
    then 9, 6 and 3–4 s in the next three, and how much of that backlog
    lands in a given pass depends on the timing of the compiler threads.
    The JVM starts and stops compiler threads as its queue grows and
    drains, and an exited thread's time can no longer be read, so a
    background thread re-reads the known ones every ``interval_s`` (and
    looks for new ones every ``rescan`` intervals) and keeps each one's last
    reading."""

    def __init__(self, jvm_pid: int, interval_s: float = 0.05, rescan: int = 10):
        self.task = f"/proc/{jvm_pid}/task"
        self.interval_s = interval_s
        self.rescan = rescan
        self._jit: dict = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample_jit(self, rescan: bool) -> None:
        for tid in os.listdir(self.task) if rescan else list(self._jit):
            try:
                with open(f"{self.task}/{tid}/stat") as f:
                    stat = f.read()
            except OSError:  # exited: its last reading stands
                continue
            if stat[stat.index("(") + 1 : stat.rindex(")")] in JIT_THREADS:
                # the thread's own utime + stime
                ticks = sum(int(x) for x in stat[stat.rindex(")") + 2 :].split()[11:13])
                with self._lock:
                    self._jit[tid] = ticks

    def _loop(self) -> None:
        n = 0
        while not self._stop.wait(self.interval_s):
            n += 1
            self._sample_jit(n % self.rescan == 0)

    def read(self) -> tuple:
        """(CPU seconds of the tree, of which JIT compilation)"""
        self._sample_jit(True)
        with self._lock:
            jit = sum(self._jit.values()) / os.sysconf("SC_CLK_TCK")
        return tree_cpu_s(os.getpid()), jit

    def __enter__(self):
        self._sample_jit(True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False


def jvm_pid(spark) -> int:
    """pid of the driver JVM that PySpark launched (its gateway process)."""
    return spark.sparkContext._gateway.proc.pid


def process_age_s() -> float:
    """Seconds since this process started, from /proc/self/stat."""
    with open("/proc/self/stat") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rindex(")") + 2 :].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")
