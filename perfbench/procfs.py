"""Process-tree samplers read from /proc: the benchmark's outside view of
the engine (the driver JVM, the Python driver and the Python workers)."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stats() -> dict[int, list[str]]:
    """pid → the fields of /proc/<pid>/stat after the command name."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                out[int(d)] = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
    return out


def _descend(root_pid: int, stats: dict[int, list[str]]) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, fields in stats.items():
        children.setdefault(int(fields[1]), []).append(pid)
    out, todo = [], [root_pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def tree(root_pid: int) -> list[int]:
    """``root_pid`` and all its live descendants."""
    return _descend(root_pid, _stats())


# JVM just-in-time compiler threads ("C1 CompilerThread0", truncated by
# the kernel to 15 characters)
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _thread_ticks(pid: int, names: tuple[str, ...]) -> int:
    """utime + stime of ``pid``'s live threads whose name is in ``names``."""
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        if raw[raw.index("(") + 1:raw.rindex(")")] in names:
            fields = raw.rsplit(")", 1)[1].split()
            total += int(fields[11]) + int(fields[12])
    return total


def cpu_s(root_pid: int, exclude_threads: tuple[str, ...] = JIT_THREADS) -> float:
    """CPU seconds (user + system) used so far by ``root_pid`` and its live
    descendants, including the children each of them has reaped, less the
    CPU of their threads named in ``exclude_threads``. Time the hypervisor
    gives to other guests (steal) is not counted, nor is time spent waiting
    for a core, so the figure moves far less with the host's load than wall
    time does. The JVM's JIT compiler threads are left out by default:
    compilation is warm-up that a long-running engine pays once, and it
    runs in the background at a pace set by the wall clock. (Their threads
    must outlive the run, see ``-XX:-UseDynamicNumberOfCompilerThreads``:
    the CPU of an exited thread stays in its process's total.)"""
    stats = _stats()
    ticks = 0
    for p in _descend(root_pid, stats):
        if p not in stats:
            continue
        ticks += sum(int(x) for x in stats[p][11:15])  # utime stime cutime cstime
        if exclude_threads and int(stats[p][17]) > 1:  # num_threads
            ticks -= _thread_ticks(p, exclude_threads)
    return ticks / _TICK


def rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def group_alive(pgid: int) -> bool:
    """Whether any non-zombie process of process group ``pgid`` remains."""
    return any(
        int(f[2]) == pgid and f[0] != "Z" for f in _stats().values()
    )
