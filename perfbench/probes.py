"""Counters read from outside the program: Spark's status store, /proc,
and the lake directory on disk."""

from __future__ import annotations

import os

_TICK_MS = 1000.0 / os.sysconf("SC_CLK_TCK")


class SparkCounters:
    """Jobs, stages and tasks Spark completed since the previous `take`.

    The status store is fed by an asynchronous listener bus, so `take`
    first waits for the bus to drain; after that every job an operation
    launched is in the store. Skipped stages and their tasks are not
    counted, so the figures are work actually done. Jobs in any job
    group are counted.
    """

    def __init__(self, spark) -> None:
        jsc = spark.sparkContext._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._last = -1
        self.take()

    def take(self) -> dict[str, int]:
        self._bus.waitUntilEmpty()
        jobs = self._store.jobsList(None)  # newest job first
        out = {"jobs": 0, "stages": 0, "tasks": 0}
        newest = self._last
        for i in range(jobs.size()):
            job = jobs.apply(i)
            job_id = job.jobId()
            if job_id <= self._last:
                break
            newest = max(newest, job_id)
            out["jobs"] += 1
            out["stages"] += job.numCompletedStages()
            out["tasks"] += job.numCompletedTasks()
        self._last = newest
        return out


class ProcStats:
    """CPU time and peak resident memory of the Python driver and the
    JVM it launched, from /proc."""

    def __init__(self, jvm_pid: int) -> None:
        self.pids = {"driver": os.getpid(), "jvm": jvm_pid}

    def cpu_ms(self) -> dict[str, float]:
        out = {}
        for role, pid in self.pids.items():
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            # utime and stime are fields 14 and 15 of stat(5)
            out[role] = (int(fields[11]) + int(fields[12])) * _TICK_MS
        return out

    def peak_rss_mb(self) -> float:
        total_kb = 0
        for pid in self.pids.values():
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        return total_kb / 1024.0


def descendants(pid: int) -> list[int]:
    """Every live process below `pid`, from the parent links in /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue  # the process ended while we looked
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def alive(pid: int) -> bool:
    """True while `pid` runs (an exited, unreaped zombie does not)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def dir_usage(root: str) -> dict[str, int]:
    """Every regular file and byte under `root`, and the files a Spark
    listing returns (it skips names starting with `_` or `.`)."""
    out = {"files": 0, "bytes": 0, "listed": 0}
    for dirpath, _, names in os.walk(root):
        rel = os.path.relpath(dirpath, root)
        hidden_dir = any(p[:1] in "_." for p in rel.split(os.sep) if p != ".")
        for name in names:
            out["files"] += 1
            out["bytes"] += os.path.getsize(os.path.join(dirpath, name))
            if not hidden_dir and name[:1] not in "_.":
                out["listed"] += 1
    return out
