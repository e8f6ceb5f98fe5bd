"""Counters read from outside the engine: /proc for the process tree,
the JVM status store for Spark jobs and stages."""

from __future__ import annotations

import os
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, list[str]] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces; fields resume after the last ')'.
    rest = raw[raw.rindex(")") + 2:].split()
    return int(rest[1]), rest


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def process_tree() -> dict[str, list[int]]:
    """This process and the pids under it, by role: ``driver`` (this
    Python process), ``jvm`` and ``pyworker`` (pyspark daemon and worker
    processes)."""
    root = os.getpid()
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st:
                parent[int(d)] = st[0]
    kids: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        kids.setdefault(ppid, []).append(pid)
    roles: dict[str, list[int]] = {"driver": [root], "jvm": [], "pyworker": []}
    todo = list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        cmd = _cmdline(pid)
        if "pyspark.daemon" in cmd or "pyspark.worker" in cmd:
            roles["pyworker"].append(pid)
        elif "java" in cmd.split(" ")[0]:
            roles["jvm"].append(pid)
    return roles


def tree_cpu_seconds() -> float:
    """CPU of this process and every process under it (the JVM and the
    Python workers), including descendants that already exited."""
    roles = process_tree()
    return cpu_seconds(roles["driver"] + roles["jvm"] + roles["pyworker"])


def cpu_seconds(pids: list[int]) -> float:
    """User+system CPU of ``pids``, including their reaped children."""
    total = 0
    for pid in pids:
        st = _stat(pid)
        if st:
            f = st[1]
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of ``pids``, in MiB."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024.0


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


@dataclass
class StageRecord:
    stage_id: int
    group: str
    submitted: float  # epoch seconds
    completed: float
    tasks: int
    run_s: float
    cpu_s: float
    shuffle_read: int
    shuffle_write: int
    spill: int


def drain_listener(spark) -> None:
    """Wait until the JVM listener bus has delivered every event, so
    the status store holds the stages of jobs that already returned."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def group_stages(spark, group: str) -> tuple[int, list[StageRecord]]:
    """(jobs, stages that ran) for one job group. Skipped stages (their
    shuffle output was reused) have no submission time and are left out."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    seen: set[int] = set()
    out: list[StageRecord] = []
    for j in jobs:
        info = tracker.getJobInfo(j)
        for sid in (info.stageIds if info else []):
            if sid in seen:
                continue
            seen.add(sid)
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # never submitted, or evicted from the store
                continue
            sub, done = sd.submissionTime(), sd.completionTime()
            if not (sub.isDefined() and done.isDefined()):
                continue
            out.append(StageRecord(
                stage_id=sid,
                group=group,
                submitted=sub.get().getTime() / 1000.0,
                completed=done.get().getTime() / 1000.0,
                tasks=sd.numCompleteTasks() + sd.numFailedTasks(),
                run_s=sd.executorRunTime() / 1000.0,
                cpu_s=sd.executorCpuTime() / 1e9,
                shuffle_read=sd.shuffleReadBytes(),
                shuffle_write=sd.shuffleWriteBytes(),
                spill=sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
            ))
    return len(jobs), out
