"""Process-tree accounting from ``/proc``: CPU seconds and resident memory
(PSS) summed over a process and all its descendants (driver, JVM, Python
workers), plus the host load figures the fingerprint records."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may hold spaces; fields resume after the last ')'
    head, _, rest = raw.rpartition(")")
    return [head.split("(", 1)[-1]] + rest.split()


def tree(root: int) -> dict[int, list[str]]:
    """``{pid: stat fields}`` for ``root`` and every live descendant.
    Field 0 is comm, then the /proc/<pid>/stat fields from ``state`` on."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, st in stats.items():
        children.setdefault(int(st[2]), []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return out


def cpu_s(stats: dict[int, list[str]], only_python: bool = False) -> float:
    """user+sys seconds, including reaped children, summed over ``stats``."""
    total = 0
    for st in stats.values():
        if only_python and not st[0].startswith("python"):
            continue
        total += sum(int(st[i]) for i in (12, 13, 14, 15))
    return total / _TICK


def pss_mb(stats: dict[int, list[str]]) -> float:
    """Summed proportional set size: resident memory with every page shared
    between processes (a forked helper, the Python workers forked from one
    daemon) counted once, split among its sharers."""
    kb = 0
    for pid in stats:
        try:
            with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            pass  # exited since it was listed
    return kb / 1024


def host_load() -> dict:
    """1-minute load average and cumulative steal seconds of the host."""
    with open("/proc/loadavg", encoding="ascii") as fh:
        load1 = float(fh.read().split()[0])
    steal = 0.0
    with open("/proc/stat", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("cpu "):
                fields = line.split()
                steal = int(fields[8]) / _TICK if len(fields) > 8 else 0.0
                break
    return {"load1": load1, "steal_s": steal}
