"""CPU time and resident memory of a process tree, read from /proc.

The Spark driver JVM, the PySpark daemon and its forked Python workers
are all descendants of the benchmark process, so one walk from
``os.getpid()`` covers every process a run pays for.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: str) -> tuple[int, int]:
    """(ppid, utime+stime+cutime+cstime in ticks)."""
    with open(f"/proc/{pid}/stat") as fh:
        data = fh.read()
    # the command name may hold spaces and parentheses: fields start
    # after the last ')'; rest[0] is field 3 (state) of proc(5)
    rest = data[data.rindex(")") + 2:].split()
    return int(rest[1]), sum(int(x) for x in rest[11:15])


def _pss(pid: int) -> int:
    """Proportional set size in bytes: resident pages, each shared page
    divided among the processes sharing it."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (FileNotFoundError, ProcessLookupError):
        pass  # exited meanwhile
    return 0


def _tree(root: int) -> dict[int, int]:
    """{pid: CPU ticks} of ``root`` and all its descendants."""
    stats: dict[int, tuple[int, int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                stats[int(name)] = _stat(name)
            except (FileNotFoundError, ProcessLookupError):
                pass  # exited between listdir and open
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out: dict[int, int] = {}
    todo = [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid][1]
            todo.extend(children.get(pid, ()))
    return out


def host_steal() -> tuple[int, int]:
    """(steal ticks, all ticks) of the host's CPUs since boot, from
    /proc/stat. On a virtual machine, steal is the time the hypervisor
    ran someone else on this machine's CPUs."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return ticks[7], sum(ticks[:8])


def descendants(root: int) -> list[int]:
    return [pid for pid in _tree(root) if pid != root]


def tree_cpu_s(root: int) -> float:
    """CPU seconds of ``root`` and all its descendants, reaped children
    included (see ``tree_usage``); cheaper, as it reads no memory map."""
    return sum(_tree(root).values()) / _TICK


def tree_usage(root: int) -> tuple[float, int]:
    """(CPU seconds, resident bytes) summed over ``root`` and all its
    descendants.

    CPU includes the cutime/cstime of reaped children, so a Python
    worker that exited during the window still counts through its
    parent. Memory is the sum of PSS, so the pages forked Python
    workers share with their daemon count once, not once per worker.
    """
    tree = _tree(root)
    return sum(tree.values()) / _TICK, sum(_pss(pid) for pid in tree)


# reading the JVM's smaps_rollup costs ~36 ms on 4 cores, so one sample
# a second keeps the sampler at ~2% of the tree's CPU
SAMPLE_PERIOD_S = 1.0


class TreeSampler:
    """One background thread sampling the resident memory of this
    process's tree every ``SAMPLE_PERIOD_S``.

    ``begin()``/``end()`` bracket a measured window and return the
    window's CPU seconds, peak RSS and host steal share; the thread's
    own CPU time is kept so its overhead can be reported next to the
    figures it produces.
    """

    def __init__(self):
        self.root = os.getpid()
        self._lock = threading.Lock()
        self._peak = 0
        self._cpu0 = 0.0
        self._self_cpu = 0.0
        self._self_cpu0 = 0.0
        self._steal0 = (0, 0)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(SAMPLE_PERIOD_S):
            _, rss = tree_usage(self.root)
            with self._lock:
                self._peak = max(self._peak, rss)
                self._self_cpu = time.thread_time()

    def start(self) -> "TreeSampler":
        self._thread.start()
        return self

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def begin(self) -> None:
        cpu, rss = tree_usage(self.root)
        self._steal0 = host_steal()
        with self._lock:
            self._peak = rss
            self._cpu0 = cpu
            self._self_cpu0 = self._self_cpu

    def end(self) -> dict[str, float]:
        cpu, rss = tree_usage(self.root)
        steal, ticks = (b - a for a, b in zip(self._steal0, host_steal()))
        with self._lock:
            peak = max(self._peak, rss)
            sampler_cpu = self._self_cpu - self._self_cpu0
        return {"cpu_s": cpu - self._cpu0, "peak_rss_bytes": peak,
                "sampler_cpu_s": sampler_cpu,
                "steal_share": steal / max(ticks, 1)}
