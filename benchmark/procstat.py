"""CPU time and peak memory of the benchmark's process tree, read from /proc.

The tree is the benchmark process, the JVM it launches and the Python
workers the JVM forks (``psutil`` is not installed).
"""

from __future__ import annotations

import os


def proc_tree(root_pid: int) -> list[int]:
    """``root_pid`` and all its live descendants, read from /proc."""
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
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_s() -> float:
    """CPU seconds (user + system, with reaped children) used so far by this
    process, the JVM and the Python workers. Time the host gives to other
    tenants is not in it, unlike wall time."""
    ticks = 0
    for pid in proc_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb() -> float:
    """Sum of the peak RSS (VmHWM) of this process, the JVM and the Python
    workers: an upper bound on their peak combined RSS."""
    total_kb = 0
    for pid in proc_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0
