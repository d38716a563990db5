"""Measurement probes: process-tree CPU and RSS from ``/proc``, and a
per-call tracer that reads Spark's status store.

The benchmark process is the root of the tree. The driver JVM is its
child (``spark-submit`` execs ``java``) and the Python workers are the
JVM's descendants, so one walk of ``/proc`` from our own pid covers the
whole program.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, float] | None:
    """(ppid, cpu seconds including reaped children)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read().decode()
    except OSError:
        return None
    # comm may hold spaces; fields after the closing paren are fixed
    f = raw[raw.rindex(")") + 2 :].split()
    cpu = sum(int(x) for x in f[11:15]) / CLK_TCK  # utime stime cutime cstime
    return int(f[1]), cpu


def _peak_rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


@dataclass
class TreeCpu:
    driver: float
    jvm: float
    jit: float  # the part of ``jvm`` spent in JIT compiler threads
    pyworker: float

    @property
    def total(self) -> float:
        return self.driver + self.jvm + self.pyworker


def tree_pids(root: int) -> dict[int, tuple[int, float]]:
    """{pid: (ppid, cpu seconds)} of ``root`` and all its descendants."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    keep, frontier = {root: stats.get(root)}, [root]
    while frontier:
        parent = frontier.pop()
        for pid, st in stats.items():
            if st[0] == parent and pid not in keep:
                keep[pid] = st
                frontier.append(pid)
    return {p: s for p, s in keep.items() if s is not None}


def _thread_cpu(pid: int, tid: int) -> float:
    with open(f"/proc/{pid}/task/{tid}/stat") as fh:
        raw = fh.read()
    f = raw[raw.rindex(")") + 2 :].split()
    return (int(f[11]) + int(f[12])) / CLK_TCK


class CpuProbe:
    """CPU seconds used so far by the driver Python, the driver JVM and
    the Python workers (every other process below the JVM), and the part
    of the JVM's spent in JIT compiler threads. The JVM adds and retires
    compiler threads as its queue grows and drains; a retired thread
    keeps the CPU it had at the last sample, so ``jit`` is a lower
    bound."""

    def __init__(self):
        self.root = os.getpid()
        pids = tree_pids(self.root)
        self.jvm = next(p for p, s in pids.items() if s[0] == self.root and _comm(p) == "java")
        self._jit: dict[int, float] = {}

    def _sample_jit(self) -> float:
        task_dir = f"/proc/{self.jvm}/task"
        for tid in os.listdir(task_dir):
            try:
                with open(f"{task_dir}/{tid}/comm") as fh:
                    if "CompilerThre" in fh.read():
                        self._jit[int(tid)] = _thread_cpu(self.jvm, int(tid))
            except OSError:  # the thread exited while we listed it
                pass
        return sum(self._jit.values())

    def sample(self) -> TreeCpu:
        jit = self._sample_jit()
        pids = tree_pids(self.root)
        return TreeCpu(
            pids[self.root][1],
            pids[self.jvm][1],
            jit,
            sum(s[1] for p, s in pids.items() if p not in (self.root, self.jvm)),
        )


def tree_peak_rss_mb() -> dict[str, float]:
    """Peak RSS in MB of each live process of the tree, keyed
    ``<comm>-<pid>``. Their sum is an upper bound of the tree's
    simultaneous peak."""
    return {f"{_comm(p)}-{p}": _peak_rss_kb(p) / 1024.0 for p in tree_pids(os.getpid())}


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


@dataclass
class CallRecord:
    name: str
    group: str
    start: float  # epoch seconds
    wall: float
    jvm_cpu: float
    pyworker_cpu: float
    leaked_rdds: int
    stats: dict = field(default_factory=dict)


class Tracer:
    """With ``enabled``, times each call into the program, tags the
    call's jobs with a job group of their own (cleared after the call),
    and records the process-tree CPU split and the persisted RDDs the
    call left behind. Spark's status store is read afterwards, in
    :meth:`harvest`, so the reads stay outside the timed pass. Without
    it, a call runs untouched."""

    def __init__(self, spark, cpu: CpuProbe, enabled: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.cpu = cpu
        self.enabled = enabled
        self.records: list[CallRecord] = []
        self._seq = 0

    def persisted_ids(self) -> set[int]:
        return {int(k) for k in self.sc._jsc.getPersistentRDDs().keySet()}

    def call(self, name: str, fn, *args, **kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        self._seq += 1
        group = f"perfbench-{self._seq}"
        before_rdds = self.persisted_ids()
        cpu0 = self.cpu.sample()
        start = time.time()
        t = time.perf_counter()
        self.sc.setJobGroup(group, name)
        try:
            out = fn(*args, **kwargs)
        finally:
            self.sc._jsc.clearJobGroup()
        wall = time.perf_counter() - t
        cpu1 = self.cpu.sample()
        leaked = len(self.persisted_ids() - before_rdds)
        self.records.append(
            CallRecord(
                name,
                group,
                start,
                wall,
                cpu1.jvm - cpu0.jvm,
                cpu1.pyworker - cpu0.pyworker,
                leaked,
            )
        )
        return out

    def harvest(self) -> None:
        """Fill each traced record's job, stage, executor-time, shuffle
        and plan-build figures from the status store."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for rec in self.records:
            if rec.stats:
                continue
            jobs = tracker.getJobIdsForGroup(rec.group)
            first_submit = None
            stages, run_ms, shuffle_bytes = set(), 0, 0
            for j in jobs:
                jd = store.job(j)
                sub = jd.submissionTime()
                if sub.isDefined():
                    ms = sub.get().getTime()
                    first_submit = ms if first_submit is None else min(first_submit, ms)
                for s in tracker.getJobInfo(j).stageIds:
                    if s in stages:
                        continue
                    sd = store.lastStageAttempt(s)
                    if sd.status().toString() == "SKIPPED":
                        continue
                    stages.add(s)
                    run_ms += sd.executorRunTime()
                    shuffle_bytes += sd.shuffleWriteBytes()
            plan = rec.wall if first_submit is None else first_submit / 1000.0 - rec.start
            rec.stats = {
                "plan_s": min(max(plan, 0.0), rec.wall),
                "jobs": len(jobs),
                "stages": len(stages),
                "executor_run_s": run_ms / 1000.0,
                "shuffle_mb": shuffle_bytes / 2**20,
            }

    def release(self) -> int:
        """Drop every cached table and persisted RDD (mostly local
        checkpoints the program leaves behind) so the next pass starts
        from the same state. Returns how many persisted RDDs were left."""
        left = self.persisted_ids()
        self.spark.catalog.clearCache()
        for rdd in self.sc._jsc.getPersistentRDDs().values():
            rdd.unpersist(True)
        return len(left)
