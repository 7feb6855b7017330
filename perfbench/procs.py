"""The benchmark's view of its own process tree: the driver process,
the JVM and the JVM's Python workers."""

from __future__ import annotations

import os


def descendants() -> list[int]:
    """Live descendants of this process: the JVM and its Python workers."""
    children: dict[int, list[int]] = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(pid))
    out, todo = [], list(children.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) used so far
    by this process and its live descendants. Time the hypervisor steals
    from the guest is not in it."""
    total = 0
    for pid in [os.getpid(), *descendants()]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


def steal_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole guest so far."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


def tree_peak_rss() -> dict[str, float]:
    """Peak RSS (VmHWM) in MB of this process and every live descendant:
    the driver process, the JVM and its Python workers."""
    peaks = {}
    for pid in [os.getpid(), *descendants()]:
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
            peaks[f"{fields['Name'].strip()}-{pid}"] = int(fields["VmHWM"].split()[0]) / 1024
        except (OSError, KeyError, ValueError):
            pass
    return peaks


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False
