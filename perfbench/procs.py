"""What /proc says about the benchmark's own process tree: its
processes, their peak memory and CPU time, and the CPU time the
hypervisor stole from the machine."""

from __future__ import annotations

import os
import time

_HZ = float(os.sysconf("SC_CLK_TCK"))


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


# HotSpot's compiler threads, "C2 CompilerThread0" etc., as /proc
# truncates their names
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def comm(pid) -> str:
    """The name of process pid, or of thread "pid/task/tid"."""
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def peak_rss_mb() -> tuple[float, float]:
    """VmHWM of this (driver) process and of the JVM it launched."""
    me = os.getpid()
    jvm = [p for p in descendants(me) if comm(p) == "java"]
    return (status_kb(me, "VmHWM") / 1024.0,
            sum(status_kb(p, "VmHWM") for p in jvm) / 1024.0)


def _stat_fields(path: str) -> list[str]:
    """The fields of a /proc stat file after the command name, so
    that field N of proc(5) is at index N - 3; [] if it is gone."""
    try:
        with open(path) as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return []


# (pid, start time) -> the last CPU ticks seen of each descendant,
# ended ones included
_SEEN: dict[tuple[int, str], int] = {}


def tree_cpu_s() -> float:
    """CPU seconds of this process (nanosecond clock) plus those of its
    descendants, the JVM and the Python workers (10 ms ticks), since
    this process started. A process that has ended keeps the ticks it
    had when last seen: the pyspark daemon ignores SIGCHLD, so the
    time of the workers it forks is lost when they end (Spark stops
    idle ones after a minute) instead of moving to its cutime."""
    for pid in descendants(os.getpid()):
        fields = _stat_fields(f"/proc/{pid}/stat")
        if fields:
            _SEEN[(pid, fields[19])] = sum(int(x) for x in fields[11:15])
    return time.process_time() + sum(_SEEN.values()) / _HZ


def jit_cpu_s() -> float:
    """CPU seconds the HotSpot JIT compiler threads of this process's
    JVMs have spent. Counts only live threads, so the JVM must keep
    them (-XX:-UseDynamicNumberOfCompilerThreads)."""
    total = 0
    for pid in descendants(os.getpid()):
        if comm(pid) != "java":
            continue
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            if comm(f"{pid}/task/{tid}").startswith(JIT_THREADS):
                total += sum(int(x) for x in _stat_fields(
                    f"/proc/{pid}/task/{tid}/stat")[11:13])
    return total / _HZ


def work_cpu_s() -> float:
    """CPU seconds of the process tree less JIT compilation: the clock
    the gated metrics use. Compiling hot code takes more CPU than the
    work itself for several passes and ebbs at its own pace, so it
    would make the work's cost depend on how long the JVM has run."""
    return tree_cpu_s() - jit_cpu_s()


def steal_s() -> float:
    """CPU seconds the hypervisor has stolen from this machine, summed
    over its CPUs; 0 where /proc/stat has no steal column."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
    except OSError:
        return 0.0
    return int(fields[8]) / _HZ if len(fields) > 8 else 0.0
