"""CPU time and peak memory of a process tree, read from /proc.

The tree is the benchmark's worker process, the JVM it launches
and the PySpark Python workers the JVM forks. Counting whole trees keeps
the numbers independent of which process does the work.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces; fields after it start at index 0
    return raw[raw.rindex(")") + 2 :].split()


def tree(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st:
                children.setdefault(int(st[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(pids: list[int]) -> float:
    """User plus system CPU of the processes and of their reaped children.

    Counting reaped children keeps the total monotonic when a worker
    exits between two readings: its time moves into its parent's
    ``cutime``/``cstime`` instead of vanishing.
    """
    ticks = 0
    for pid in pids:
        st = _stat(pid)
        if st:
            # utime, stime, cutime, cstime are fields 14-17 of stat(5)
            ticks += sum(int(x) for x in st[11:15])
    return ticks / _TICK


def python_workers(pids: list[int], root: int) -> list[int]:
    """The Python processes among ``pids`` other than ``root``: the
    PySpark daemon and the workers it forks."""
    out = []
    for pid in pids:
        try:
            exe = os.path.basename(os.readlink(f"/proc/{pid}/exe"))
        except OSError:
            continue
        if pid != root and exe.startswith("python"):
            out.append(pid)
    return out


def peak_rss_mib(pids: list[int]) -> float:
    """Sum of each process's peak resident set (VmHWM), in MiB."""
    kib = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kib += int(line.split()[1])
                        break
        except OSError:
            continue
    return kib / 1024


def reset_peak_rss(pids: list[int]) -> None:
    """Restart each process's VmHWM from its current resident set."""
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            continue
