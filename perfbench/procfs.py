"""Readers for Linux /proc: the process table (CPU, resident memory,
start time) and the host's steal time."""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def read_procs() -> list[dict]:
    """One dict per live process: pid, ppid, name, cpu_s (utime + stime
    + cutime + cstime), rss_bytes and start (clock ticks since boot,
    which tells a reused pid from the process seen before)."""
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        # a process can exit between listdir and read
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read()
            rest = st[st.rindex(")") + 2:].split()
            out.append({
                "pid": int(d),
                "ppid": int(rest[1]),
                "name": st[st.index("(") + 1:st.rindex(")")],
                "cpu_s": sum(int(x) for x in rest[11:15]) / CLK_TCK,
                "rss_bytes": int(rest[21]) * PAGE,
                "start": int(rest[19]),
            })
        except (OSError, ValueError, IndexError):
            continue
    return out


def tree(procs: list[dict], root: int) -> list[dict]:
    """``root`` and all its live descendants."""
    by_parent: dict[int, list[dict]] = {}
    for p in procs:
        by_parent.setdefault(p["ppid"], []).append(p)
    out = [p for p in procs if p["pid"] == root]
    i = 0
    while i < len(out):
        out.extend(by_parent.get(out[i]["pid"], []))
        i += 1
    return out


def steal_s() -> float:
    """Seconds of CPU the hypervisor gave to other guests, summed over
    this host's CPUs since boot (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / CLK_TCK
