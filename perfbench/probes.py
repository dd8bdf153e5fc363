"""Process probes read from ``/proc``: CPU seconds and peak resident memory.

The benchmark's processes are the driver Python process, the driver JVM
it launched, and the Python workers the JVM forks (descendants of the
JVM).  CPU of a worker that exited and was reaped moves into its
parent's ``cutime``/``cstime``, so summing live descendants plus the
JVM's reaped-children counters keeps the total continuous.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # The command name may hold spaces; fields resume after its ')'.
    return raw[raw.rindex(")") + 2 :].split()


def descendants(pid: int) -> list[int]:
    """Live descendant pids of ``pid``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        fields = _stat_fields(int(entry))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(entry))
    out, stack = [], [pid]
    while stack:
        for child in children.get(stack.pop(), []):
            out.append(child)
            stack.append(child)
    return out


def cpu_seconds(jvm_pid: int | None) -> float:
    """CPU seconds used so far by this process, the JVM and its workers."""
    t = os.times()
    total = t.user + t.system
    if jvm_pid is None:
        return total
    fields = _stat_fields(jvm_pid)
    if fields is None:
        return total
    # utime, stime, cutime, cstime are fields 14-17 of stat(5).
    ticks = sum(int(x) for x in fields[11:15])
    for pid in descendants(jvm_pid):
        f = _stat_fields(pid)
        if f is not None:
            ticks += int(f[11]) + int(f[12])
    return total + ticks / _TICK


def peak_rss_mb(pid: int) -> float:
    """``VmHWM`` of ``pid`` in MiB (0.0 when the process is gone)."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0
