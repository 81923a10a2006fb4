"""CPU, memory and host-contention readings of the benchmark's process tree
(this Python process, the Spark JVM it launches, and the JVM's Python
workers), all read from /proc.

The per-process CPU reader, the host jiffy snapshot, the external-busy and
steal arithmetic and the contention thresholds are those of ``bench.py``,
imported from it, so that both benchmarks flag contention the same way.
What this module adds is the tree walk that leaves out a given subtree
(the benchmark's DuckDB checker process)."""

from __future__ import annotations

import os

from bench import (
    _EXT_BUSY_MAX,
    _STEAL_MAX,
    _host_snapshot,
    _proc_cpu_jiffies,
    _sample_quality,
)

_TICK = os.sysconf("SC_CLK_TCK")


def tree(
    exclude: frozenset[int] = frozenset(), root: int | None = None
) -> dict[int, tuple[int, int]]:
    """(ppid, CPU jiffies incl. reaped children) of ``root`` (default: this
    process) and its descendants, leaving out the subtrees rooted at the
    ``exclude`` pids."""
    stats = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _proc_cpu_jiffies(int(d))
            if st is not None:
                stats[int(d)] = st
    root = os.getpid() if root is None else root
    own, frontier = {root}, [root]
    while frontier:
        parent = frontier.pop()
        for pid, st in stats.items():
            if st[0] == parent and pid not in own and pid not in exclude:
                own.add(pid)
                frontier.append(pid)
    return {pid: stats[pid] for pid in own if pid in stats}


def _jiffies(procs: dict[int, tuple[int, int]]) -> int:
    return sum(st[1] for st in procs.values())


def _peak_rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _reset_peak_rss(pid: int) -> None:
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")  # resets VmHWM to the current RSS
    except OSError:
        pass


class RunMeter:
    """Measures one timed region: CPU of the tree, the peak resident
    memory of the tree's Python processes, and the share of the host that
    other processes or the hypervisor took meanwhile.

    The Spark JVM (``jvm_pid``) counts towards CPU but not towards resident
    memory: its heap is sized by the garbage collector up to the fixed
    maximum and stays resident once touched, so its RSS neither shows what
    a run holds nor drops when it holds less. Its memory is read from
    Spark's own accounting instead (see ``run.py``).

    Python peak memory is the sum, over the processes alive at the end, of
    each one's peak RSS (VmHWM, reset when the region starts). Per-process
    peaks, rather than sampled sums, leave out short-lived helper
    processes that the JVM forks, whose RSS briefly mirrors the JVM's."""

    def __init__(self, jvm_pid: int, exclude: frozenset[int] = frozenset()) -> None:
        self.jvm_pid = jvm_pid
        self.exclude = exclude

    def __enter__(self) -> "RunMeter":
        procs = tree(self.exclude)
        for pid in procs:
            if pid != self.jvm_pid:
                _reset_peak_rss(pid)
        self._host0 = _host_snapshot()
        self._own0 = _jiffies(tree(self.exclude))
        return self

    def __exit__(self, *exc) -> None:
        procs = tree(self.exclude)
        own1 = _jiffies(procs)
        host1 = _host_snapshot()
        self.cpu_s = (own1 - self._own0) / _TICK
        self.python_peak_bytes = sum(
            _peak_rss_bytes(pid) for pid in procs if pid != self.jvm_pid
        )
        q = _sample_quality(self._host0, host1, self._own0, own1) or {}
        self.external_busy_frac = q.get("external_busy_frac", 0.0)
        self.steal_frac = q.get("steal_frac", 0.0)
        self.contended = (
            self.external_busy_frac > _EXT_BUSY_MAX or self.steal_frac > _STEAL_MAX
        )
