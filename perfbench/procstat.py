"""CPU, memory and steal readings from ``/proc`` for the whole process tree.

A local-mode run is three kinds of process: this driver (Python), the
JVM it launched, and the PySpark daemon and workers that the JVM forks
for every Arrow/Python boundary. The JVM's own CPU misses the workers;
here they are found by walking the JVM's descendants. A worker that
exited between two readings is still counted: once its parent reaps it,
its CPU moves into the parent's ``cutime``/``cstime``, which is read for
every live process of the tree.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the command name, or None if
    the process is gone. Field 0 here is the state (stat field 3)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(") ", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError, IndexError):
        return None


def children_map() -> dict[int, list[int]]:
    """ppid -> pids of every process currently visible in ``/proc``."""
    out: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            out.setdefault(int(fields[1]), []).append(int(name))
    return out


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().startswith("python")
    except (FileNotFoundError, ProcessLookupError):
        return False


def descendants(pid: int) -> list[int]:
    kids = children_map()
    out, stack = [], list(kids.get(pid, []))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, []))
    return out


def cpu_s(pid: int) -> float:
    """utime+stime of ``pid`` plus the cutime+cstime of its reaped
    children; 0.0 if the process is gone."""
    fields = _stat_fields(pid)
    if fields is None:
        return 0.0
    return sum(int(x) for x in fields[11:15]) / TICK


def jit_threads(pid: int) -> dict[tuple[str, str], float]:
    """utime+stime of each JIT compiler thread ("C1 CompilerThre…", "C2
    CompilerThre…") of the JVM ``pid``, keyed by (tid, start time)."""
    out = {}
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except (FileNotFoundError, ProcessLookupError):
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if "CompilerThre" not in f.read():
                    continue
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                fields = f.read().rsplit(") ", 1)[1].split()
        except (FileNotFoundError, ProcessLookupError):
            continue
        out[(tid, fields[19])] = (int(fields[11]) + int(fields[12])) / TICK
    return out


def vm_hwm_mb(pid: int) -> float:
    """High-water resident set size of ``pid`` in MB (0.0 if gone)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0.0


def steal_s() -> float:
    """Machine-wide steal time so far (hypervisor took the CPU away)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / TICK


@dataclass
class TreeCpu:
    """One reading of the tree's CPU, split by component (seconds).
    ``jit`` is the part of ``jvm`` spent in the JIT compiler threads."""

    jvm: float
    python_workers: float
    driver: float
    jit: float = 0.0

    @property
    def total(self) -> float:
        return self.jvm + self.python_workers + self.driver

    def __sub__(self, other: TreeCpu) -> TreeCpu:
        return TreeCpu(
            self.jvm - other.jvm,
            self.python_workers - other.python_workers,
            self.driver - other.driver,
            self.jit - other.jit,
        )


class ProcessTree:
    """Readings for the tree rooted at the JVM, plus this driver."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.peak_worker_mb = 0.0
        # the JVM starts and ends compiler threads as the queue grows and
        # shrinks; an ended thread keeps the CPU it had at its last reading
        self.jit_seen: dict[tuple[str, str], float] = {}

    def cpu(self) -> TreeCpu:
        # the JVM's reaped children are helper commands it ran (the
        # PySpark daemon lives until shutdown and reaps its own workers)
        jvm = cpu_s(self.jvm_pid)
        workers = 0.0
        for pid in descendants(self.jvm_pid):
            if _is_python(pid):
                workers += cpu_s(pid)
                self.peak_worker_mb = max(self.peak_worker_mb, vm_hwm_mb(pid))
            else:
                jvm += cpu_s(pid)
        self.jit_seen.update(jit_threads(self.jvm_pid))
        t = os.times()
        return TreeCpu(jvm, workers, t.user + t.system, sum(self.jit_seen.values()))

    def peak_rss_mb(self) -> float:
        """JVM high-water RSS plus the largest worker high-water RSS seen
        by any reading so far."""
        for pid in descendants(self.jvm_pid):
            if _is_python(pid):
                self.peak_worker_mb = max(self.peak_worker_mb, vm_hwm_mb(pid))
        return vm_hwm_mb(self.jvm_pid) + self.peak_worker_mb
