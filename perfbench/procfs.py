"""Readings from ``/proc`` about this process and the ones it started."""

from __future__ import annotations

import os
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def process_age_s() -> float:
    """Seconds since this process started."""
    with open("/proc/self/stat") as f:
        raw = f.read()
    start_ticks = int(raw[raw.rfind(")") + 2 :].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / CLK_TCK


def steal_s() -> float:
    """CPU seconds the hypervisor gave other guests while this one had
    work, summed over CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / CLK_TCK


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of ``pid``."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _processes() -> tuple[dict[int, list[str]], dict[int, list[int]]]:
    """(stat fields by pid, with the command name first; children by pid)."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                raw = f.read()
        except OSError:
            continue  # exited meanwhile
        comm_end = raw.rfind(")")
        fields = raw[comm_end + 2 :].split()
        pid = int(entry)
        stats[pid] = [raw[raw.find("(") + 1 : comm_end], *fields]
        children.setdefault(int(fields[1]), []).append(pid)
    return stats, children


def tree_cpu_s(root: int, comm_prefix: str = "") -> float:
    """CPU seconds of ``root`` and its descendants whose command name
    starts with ``comm_prefix``, each with its reaped children, so
    processes that already exited still count. A non-matching ``root``
    adds only its reaped children."""
    stats, children = _processes()
    total = 0
    todo = [root]
    while todo:
        pid = todo.pop()
        st = stats.get(pid)
        if st is None:
            continue
        todo.extend(children.get(pid, []))
        if st[0].startswith(comm_prefix):
            total += sum(int(x) for x in st[12:16])  # utime, stime, cutime, cstime
        elif pid == root:
            total += int(st[14]) + int(st[15])  # cutime, cstime
    return total / CLK_TCK
