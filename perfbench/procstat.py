"""CPU time and peak memory of this process and everything it started
(the Spark JVM, and the Python workers the JVM forks), read from
``/proc``."""

from __future__ import annotations

import os
import resource

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces: fields start after its ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """User + system CPU seconds of the process tree, including
    descendants that already exited and were reaped inside it."""
    total = 0
    for pid in tree_pids():
        st = _stat(pid)
        if st:
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def peak_rss_mb() -> float:
    """Resident-memory high-water mark of this driver process plus the
    JVM it launched."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    for pid in tree_pids()[1:]:
        try:
            with open(f"/proc/{pid}/status") as f:
                status = f.read()
        except OSError:
            continue
        if "\nName:\tjava\n" in "\n" + status:
            kb += int(status.split("VmHWM:")[1].split()[0])
    return kb / 1024.0
