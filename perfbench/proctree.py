"""CPU time and peak memory of this process and its descendants, from /proc.

The tree has three roles: the Python driver (this process), the JVM it
launched, and the Python workers below the JVM (the pyspark daemon and
its forks). A role's CPU is utime+stime of its live processes plus
cutime+cstime, which holds the CPU of children they already reaped, so a
worker that exits between two snapshots still counts.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[str, int, float, float] | None:
    """(comm, ppid, own cpu s, reaped-children cpu s) or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1:raw.rindex(")")]
    f = raw[raw.rindex(")") + 2:].split()
    own = (int(f[11]) + int(f[12])) / _TICK
    reaped = (int(f[13]) + int(f[14])) / _TICK
    return comm, int(f[1]), own, reaped


def _descendants(root: int) -> dict[int, tuple[str, int, float, float]]:
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                procs[int(name)] = st
    tree = {root: procs[root]} if root in procs else {}
    grew = True
    while grew:
        grew = False
        for pid, st in procs.items():
            if pid not in tree and st[1] in tree:
                tree[pid] = st
                grew = True
    return tree


def _role(pid: int, tree: dict, root: int) -> str:
    if pid == root:
        return "pydriver"
    while pid in tree and tree[pid][1] != root:
        pid = tree[pid][1]
    # pid is now the root's direct child on this branch
    return "jvm" if pid in tree and tree[pid][0] == "java" else "other"


def cpu_by_role(root: int | None = None) -> dict[str, float]:
    """CPU seconds so far per role: pydriver, jvm, pyworker."""
    root = root or os.getpid()
    tree = _descendants(root)
    out = {"pydriver": 0.0, "jvm": 0.0, "pyworker": 0.0}
    for pid, (comm, _ppid, own, reaped) in tree.items():
        role = _role(pid, tree, root)
        if role == "jvm" and comm != "java":
            role = "pyworker"  # anything the JVM spawned: pyspark daemon/workers
        if role == "other":
            continue
        if pid == root:
            out[role] += own  # the JVM is a live child: its cpu is counted below
        else:
            out[role] += own + reaped
    return out


def peak_rss_mb(root: int | None = None) -> float:
    """Sum of each live tree member's peak resident set (VmHWM)."""
    root = root or os.getpid()
    total_kb = 0
    for pid in _descendants(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return total_kb / 1024.0


def process_age_s() -> float:
    """Seconds since this process started (kernel start time, 10 ms ticks)."""
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    with open(f"/proc/{os.getpid()}/stat") as fh:
        raw = fh.read()
    start_ticks = int(raw[raw.rindex(")") + 2:].split()[19])
    return uptime - start_ticks / _TICK


def host_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of the whole host so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f[:8])
