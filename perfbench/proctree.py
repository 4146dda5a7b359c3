"""CPU time and proportional memory of a process tree, read from /proc.

The tree is a root pid and every live descendant: for the benchmark
session that is the harness, the JVM, the Python worker daemon and its
forked workers.  CPU counts utime + stime + cutime + cstime of each live
process, so a worker that exits and is reaped inside the tree still counts
through its parent.  Memory is summed ``Pss``, which splits pages that
forked workers share instead of counting them once per process.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name is parenthesised and may hold spaces
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            f = _stat_fields(int(entry))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    ticks = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            # fields 14-17 of stat(5), counted after the command name
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _TICK


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_pss_mb(root: int) -> float:
    return sum(_pss_kb(pid) for pid in tree_pids(root)) / 1024


class PeakPss:
    """Samples the tree's summed Pss on a thread until stopped."""

    def __init__(self, root: int, interval_s: float = 0.25):
        self.root = root
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_pss_mb(self.root))
            self.samples += 1
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakPss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def host_cpu_ticks() -> tuple[int, int]:
    """(busy, steal) jiffies of all CPUs so far, from /proc/stat.  Busy is
    user + nice + system + irq + softirq; steal is time the hypervisor ran
    something else while a CPU of this host wanted to run."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = f
    return user + nice + system + irq + softirq, steal
