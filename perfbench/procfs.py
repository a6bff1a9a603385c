"""Readers for Linux ``/proc``: process trees, peak memory and CPU time."""

from __future__ import annotations

import os

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the command name, or None."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
            data = f.read()
    except OSError:
        return None
    return data[data.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """Pids of every live process below ``root`` in the process tree."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(int(entry))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(entry))
    out, stack = [], [root]
    while stack:
        for child in children.get(stack.pop(), []):
            out.append(child)
            stack.append(child)
    return out


def status_kib(pid: int, key: str) -> int:
    """A ``kB`` field of ``/proc/<pid>/status`` (e.g. VmHWM); 0 if gone."""
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def cpu_seconds(pid: int) -> float:
    """utime + stime of ``pid`` plus those of its waited-for children."""
    fields = _stat_fields(pid)
    if fields is None:
        return 0.0
    # fields[11:15] = utime stime cutime cstime (stat fields 14-17)
    return sum(int(x) for x in fields[11:15]) / _CLK_TCK


def group_members(pgid: int) -> list[int]:
    """Live pids whose process group is ``pgid``."""
    out = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(int(entry))
            if fields is not None and int(fields[2]) == pgid and fields[0] != "Z":
                out.append(int(entry))
    return out
