"""Host and process readings from ``/proc``: CPU seconds and peak RSS of a
process tree, and the host record stored with every run."""

from __future__ import annotations

import os
import platform
import sys

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces: fields start after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def session_pids(sid: int) -> list[int]:
    """Every live process whose session id is ``sid`` (zombies excluded:
    they have ended and wait only to be reaped)."""
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None and st[0] != "Z" and int(st[3]) == sid:
                out.append(int(name))
    return out


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of the tree under ``root``, counting children
    that have already exited and been reaped by a live parent."""
    total = 0
    for pid in tree_pids(root):
        st = _stat(pid)
        if st is not None:
            # utime stime cutime cstime are fields 14-17 of /proc/pid/stat
            total += sum(int(v) for v in st[11:15])
    return total / _TICK


def reset_peak_rss(root: int) -> None:
    """Reset VmHWM to the current RSS for every process in the tree."""
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def tree_peak_rss(root: int) -> dict[str, float]:
    """Peak resident set (VmHWM, MB) of each live process in the tree under
    ``root``, keyed by ``"<pid> <command name>"``."""
    out = {}
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            out[f"{pid} {fields['Name'].strip()}"] = int(fields["VmHWM"].split()[0]) / 1024
    return out


def _steal() -> dict:
    with open("/proc/stat") as f:
        cpu = f.readline().split()[1:]
    ticks = [int(v) for v in cpu]
    return {"steal_ticks": ticks[7], "total_ticks": sum(ticks)}


def host_snapshot() -> dict:
    with open("/proc/loadavg") as f:
        load = f.read().split()[:3]
    return {"loadavg": [float(v) for v in load], **_steal()}


def host_record() -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
        "python": sys.version.split()[0],
        "platform": platform.platform(),
    }
