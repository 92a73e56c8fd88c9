"""The workload's process tree, read from /proc: the workload process, the
Spark JVM it launches and the JVM's Python worker daemons with their
workers. The daemons put themselves in process groups of their own, so the
tree is followed by parent pid, not by process group."""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def stats() -> dict[int, list[str]]:
    """The fields of /proc/<pid>/stat after the command name, for every
    process: [0] state, [1] ppid, [2] process group, [11:15] utime stime
    cutime cstime, [19] start time."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                out[int(entry)] = f.read().rsplit(")", 1)[1].split()
        except OSError:  # ended while listed
            continue
    return out


def group(pgid: int, st: dict[int, list[str]]) -> dict[int, str]:
    """The processes of a process group, each with its start time."""
    return {pid: fields[19] for pid, fields in st.items() if int(fields[2]) == pgid}


def tree(root: int, st: dict[int, list[str]]) -> dict[int, str]:
    """root and every process under it, each with its start time (which
    tells a process from a later one that reuses its pid)."""
    children: dict[int, list[int]] = {}
    for pid, fields in st.items():
        children.setdefault(int(fields[1]), []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in st:
            out[pid] = st[pid][19]
            todo += children.get(pid, [])
    return out


def cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by root and every process
    under it. A process that has ended counts through its parent's
    children's time once the parent has reaped it. On a VM whose kernel
    accounts steal time (CONFIG_PARAVIRT_TIME_ACCOUNTING), time the
    hypervisor gave to other guests is not counted, which wall time cannot
    leave out."""
    st = stats()
    return sum(sum(int(x) for x in st[pid][11:15]) for pid in tree(root, st)) / CLK_TCK


def rss_bytes(pids) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except OSError:
            continue
    return total


def alive(seen: dict[int, str]) -> list[int]:
    """The processes of seen that still run; a zombie has ended."""
    st = stats()
    return [pid for pid, start in seen.items()
            if pid in st and st[pid][19] == start and st[pid][0] != "Z"]
