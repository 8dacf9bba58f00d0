"""CPU and memory of a process tree, read from /proc.

A PySpark session is a tree: the Python driver, the JVM it launched, the
pyspark daemon the JVM forks, and the Python workers the daemon forks.
`tree_cpu` sums CPU over every live process under a root, split into
the three kinds. A process's `cutime`/`cstime` hold the CPU of children
it has reaped, so a worker that exits mid-window still counts, under
its parent. `tree_peak_rss_mb` sums the processes' peak resident sets.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")
KINDS = ("jvm", "py_driver", "py_workers")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # comm may hold spaces or parentheses: split after the last ')'
    head, _, rest = raw.rpartition(")")
    return [head.partition("(")[2]] + rest.split()


def _tree(root: int) -> dict[int, list[str]]:
    """pid → parsed stat for `root` and all its descendants."""
    stats, children = {}, {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
                children.setdefault(int(st[2]), []).append(int(name))
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return out


def _kind(pid: int, root: int, comm: str) -> str:
    if pid == root:
        return "py_driver"
    return "py_workers" if comm.startswith("python") else "jvm"


def tree_cpu(root: int | None = None) -> dict[str, float]:
    """CPU seconds used so far by the tree under `root` (default: this
    process), by kind. Subtract two readings to get a window's CPU."""
    root = root or os.getpid()
    out = dict.fromkeys(KINDS, 0.0)
    for pid, st in _tree(root).items():
        # fields 14-17 of stat: utime stime cutime cstime (comm is [0])
        ticks = sum(int(x) for x in st[12:16])
        out[_kind(pid, root, st[0])] += ticks / _TICK
    return out


def host_ticks() -> tuple[int, int]:
    """(all, stolen) CPU ticks of the whole box since boot, from the
    first line of /proc/stat. Stolen ticks are those the hypervisor gave
    to other guests while this one had work to run."""
    with open("/proc/stat") as f:
        # cpu user nice system idle iowait irq softirq steal guest guest_nice
        fields = [int(x) for x in f.readline().split()[1:9]]
    return sum(fields), fields[7]


def steal_frac(a: tuple[int, int], b: tuple[int, int]) -> float:
    """Share of the box's CPU time stolen between two `host_ticks`."""
    return (b[1] - a[1]) / max(b[0] - a[0], 1)


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum over the tree of each live process's peak resident set
    (`VmHWM`, tracked by the kernel, so no sampling is needed). It
    bounds the tree's true peak from above."""
    total_kb = 0
    for pid in _tree(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024
