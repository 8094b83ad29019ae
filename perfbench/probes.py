"""Outside-in counters for the benchmark: process-tree CPU time and
memory read from ``/proc``, Spark job and stage counts per job group,
and an orderly stop of the JVM and every process it started.

Nothing here reaches into ``hiselspark``: the counters observe the
driver process, its children and Spark's status tracker, which works
with ``spark.ui.enabled=false``.
"""
from __future__ import annotations

import os
import signal
import subprocess
import threading
import time
from contextlib import contextmanager
from typing import Dict, List, Set, Tuple


def _parent_map() -> Dict[int, int]:
    """pid -> ppid for every process visible in /proc."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:          # the process ended while we listed
            continue
        # the command name sits in parentheses and may hold spaces
        fields = stat[stat.rfind(b")") + 2:].split()
        out[int(name)] = int(fields[1])
    return out


def descendants(root: int) -> List[int]:
    """Every live process below ``root`` (not ``root`` itself)."""
    children: Dict[int, List[int]] = {}
    for pid, ppid in _parent_map().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _cpu_ticks(path: str) -> int:
    """utime + stime + cutime + cstime of a ``/proc/.../stat`` file
    (a thread's stat has zero c-fields); 0 if it is gone."""
    try:
        with open(path, "rb") as f:
            stat = f.read()
    except OSError:
        return 0
    fields = stat[stat.rfind(b")") + 2:].split()
    return sum(int(x) for x in fields[11:15])


def tree_cpu_s(root: int, exclude_tids: Tuple[int, ...] = ()) -> float:
    """CPU seconds used so far by ``root`` and all its descendants
    (driver, JVM, Python daemon and workers), less the threads of
    ``root`` named in ``exclude_tids``.  A worker that has exited is
    counted through its parent's cutime once reaped.  Unlike wall time,
    CPU time leaves out the time the host's hypervisor gave the vCPUs
    to other guests (steal)."""
    ticks = sum(_cpu_ticks(f"/proc/{p}/stat")
                for p in [root, *descendants(root)])
    ticks -= sum(_cpu_ticks(f"/proc/{root}/task/{t}/stat")
                 for t in exclude_tids)
    return ticks / os.sysconf("SC_CLK_TCK")


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes that map it."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
            for line in f:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError):   # the process ended while we read
        pass
    return 0


def tree_pss_bytes(root: int) -> int:
    """Memory held by ``root`` and all its descendants (driver, JVM,
    Python daemon and workers).  PSS rather than RSS: Spark's Python
    workers are forked from one daemon and share its imported modules,
    so summed RSS would count those pages once per worker and jump with
    the number of workers alive at the sampling instant."""
    return sum(_pss_bytes(p) for p in [root, *descendants(root)])


class MemorySampler:
    """Samples the process tree's memory on a background thread and
    keeps the peak.  Use as a context manager around the whole run."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True,
                                        name="memory-sampler")

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, tree_pss_bytes(me))
            self.samples += 1
            self._stop.wait(self.interval_s)

    @property
    def tid(self) -> int:
        """The sampling thread's id, to leave its own CPU time out."""
        return self._thread.native_id

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


class JobCounter:
    """Counts the Spark jobs and executed stages of the actions run
    inside :meth:`group`, from job groups and the status tracker."""

    def __init__(self, sc):
        self.sc = sc
        self._n = 0

    @contextmanager
    def group(self, name: str):
        self._n += 1
        gid = f"perfbench-{self._n}-{name}"
        self.sc.setJobGroup(gid, name)
        try:
            yield gid
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def counts(self, gid: str) -> Tuple[int, int, int]:
        """(jobs, stages, tasks) of a finished group.  ``stages`` counts
        every stage the jobs list, including the ones Spark skipped
        because an earlier job's shuffle output was reused (with
        adaptive execution each job runs one new stage, so jobs and
        run stages would be the same number); ``tasks`` counts the
        tasks that ran.  Call outside the timed region: it first waits
        for the listener bus to deliver the group's events."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(gid)
        stages: Set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = 0
        for s in stages:
            info = tracker.getStageInfo(s)
            if info is not None:
                tasks += info.numCompletedTasks
        return len(jobs), len(stages), tasks


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, the py4j gateway and the JVM, then wait until
    every process this one started has ended (SIGTERM, then SIGKILL,
    for any that outlive the timeout)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # the JVM exits when its stdin (the driver's pipe) closes
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=timeout_s)
    left = _wait_gone(timeout_s)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        if not left:
            return
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        left = _wait_gone(10.0)
    if left:
        raise RuntimeError(f"processes {left} did not stop")


def _wait_gone(timeout_s: float) -> List[int]:
    """Poll until this process has no descendants, reaping the ones
    that exit; returns those still alive after ``timeout_s``."""
    deadline = time.monotonic() + timeout_s
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        left = descendants(os.getpid())
        if not left or time.monotonic() > deadline:
            return left
        time.sleep(0.1)
