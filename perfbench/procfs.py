"""Process-tree figures read from /proc: CPU seconds and resident memory
of the benchmark process, the JVM it starts and the JVM's Python workers."""

from __future__ import annotations

import os
import threading


def proc_children() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
    return children


def proc_tree(root: int) -> list[int]:
    children = proc_children()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += children.get(p, [])
    return out


def _stat_cpu_ticks(path: str, children: bool) -> int:
    """utime + stime (+ cutime + cstime) from a /proc stat file."""
    with open(path) as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return sum(int(x) for x in fields[11 : 15 if children else 13])


_compiler_tids: dict[int, bool] = {}  # tid -> is a JIT compiler thread


def _jit_ticks(pid: int) -> int:
    """CPU ticks of the JVM's JIT compiler threads (C1/C2).  The run keeps
    them alive for the whole process, so none of their time is lost when a
    thread would otherwise retire."""
    total = 0
    for name in os.listdir(f"/proc/{pid}/task"):
        tid = int(name)
        try:
            if tid not in _compiler_tids:
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    _compiler_tids[tid] = f.read().startswith(("C1 CompilerThre", "C2 CompilerThre"))
            if _compiler_tids[tid]:
                total += _stat_cpu_ticks(f"/proc/{pid}/task/{tid}/stat", children=False)
        except OSError:
            pass
    return total


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) used so far by
    this process and every process under it: the driver, the JVM and the
    Python workers.  The JVM's JIT compiler threads are left out: compiling
    is warm-up, and on a JVM a minute old it still used more CPU than the
    tasks and varied from run to run.  Time the hypervisor steals from the
    VM is not in it either."""
    total = 0
    for p in proc_tree(os.getpid()):
        try:
            total += _stat_cpu_ticks(f"/proc/{p}/stat", children=True) - _jit_ticks(p)
        except OSError:
            pass
    return total / os.sysconf("SC_CLK_TCK")


class RssSampler(threading.Thread):
    """Summed RSS of the JVM and every process under it (the Python
    workers), sampled every 100 ms: the peak, and the median over samples,
    which a transient extra worker moves far less."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid = pid
        self.peak = 0
        self.samples: list[int] = []
        self.seen: set[int] = set()
        self._stop_evt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def sample(self) -> None:
        total = 0
        for p in proc_tree(self.pid):
            try:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
                self.seen.add(p)
            except OSError:
                pass
        self.peak = max(self.peak, total)
        self.samples.append(total)

    def run(self) -> None:
        while not self._stop_evt.wait(0.1):
            self.sample()

    def median(self) -> float:
        return float(sorted(self.samples)[len(self.samples) // 2])

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()
        self.sample()
