"""Process-tree accounting from /proc: CPU seconds of this process and
every descendant (the JVM and its Python workers), and peak RSS of this
process (the Python driver) since a reset."""

from __future__ import annotations

import os
import resource

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # the command name may hold spaces: split after its closing paren
    return s[s.rindex(")") + 2:].split()


def children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                kids.setdefault(int(st[1]), []).append(int(name))
    return kids


def descendants(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    kids, out, todo = children_map(), [], [root]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _cpu(pid: int, with_children: bool = True) -> float:
    st = _stat(pid)
    if st is None:
        return 0.0
    # fields after the name: utime=11, stime=12, cutime=13, cstime=14
    n = 4 if with_children else 2
    return sum(int(x) for x in st[11:11 + n]) / _TICK


def tree_cpu_s() -> float:
    """user+sys CPU of this process and all live descendants, including
    what reaped children left in their parent's cutime/cstime."""
    return sum(_cpu(p) for p in [os.getpid(), *descendants()])


def python_worker_cpu_s() -> float:
    """user+sys CPU of the Python worker processes (descendants of the
    JVM running pyspark's daemon or workers)."""
    total = 0.0
    for p in descendants():
        try:
            with open(f"/proc/{p}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"pyspark" in cmd and b"java" not in cmd.split(b"\0", 1)[0]:
            total += _cpu(p)
    return total


def steal_share() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine so far, from /proc/stat;
    the share of CPU time the hypervisor gave to other guests."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[7], sum(v)


def reset_driver_peak_rss() -> None:
    """Reset this process's peak RSS (VmHWM) to its current RSS."""
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


def driver_peak_rss_mb() -> float:
    """Peak RSS of this process since the last reset, from VmHWM."""
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
