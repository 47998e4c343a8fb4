"""Small measurement helpers: the percentile sample-count rule, error-rate
accounting, and process-tree readings from /proc (peak RSS, CPU seconds,
machine steal)."""

from __future__ import annotations

import math
import os
import statistics
import threading


def percentile(values, q: float) -> float | None:
    """Nearest-rank q-quantile (0 < q < 1), or None when fewer than ten
    samples lie beyond it: a percentile needs n * (1 - q) >= 10, so p50
    needs 20 samples and p90 needs 100."""
    n = len(values)
    if n == 0 or n * (1 - q) < 10 - 1e-9:
        return None
    ordered = sorted(values)
    return ordered[max(0, math.ceil(q * n) - 1)]


def median(values) -> float:
    return statistics.median(values)


class Outcomes:
    """Operations attempted and failed in one run.

    A planted bad row that the engine refuses is a success; one it commits
    is a failure, as is a valid row it drops or an output that fails its
    check. An operation that raises ends the run without a result."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def ok(self, n: int = 1) -> None:
        self.attempted += n

    def check(self, passed: bool, note: str) -> None:
        """An output check: counts as a failure only when it does not pass
        (the operation it checks is already counted as attempted)."""
        if not passed:
            self.failed += 1
            if len(self.notes) < 20:
                self.notes.append(note)

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


_TICKS = os.sysconf("SC_CLK_TCK")


def _tree_stats(root: int) -> dict[int, list[str]]:
    """pid → /proc/<pid>/stat fields (from `state` on) of `root` and every
    descendant: the driver, the JVM and its Python workers."""
    parent: dict[int, int] = {}
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rpartition(")")[2].split()
        except OSError:
            continue
        parent[int(name)] = int(fields[1])
        stats[int(name)] = fields
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = {}, [root]
    while stack:
        pid = stack.pop()
        if pid in stats:
            out[pid] = stats[pid]
        stack.extend(children.get(pid, ()))
    return out


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root: int) -> float:
    """Resident memory of the process tree under `root`, in MB, with pages
    that processes share counted once: the sum of their proportional set
    sizes, skipping a child whose address space has the size of its
    parent's. Such a child has not exec'd yet; the JVM spawns its helper
    processes with vfork, so until the exec the child's counters show the
    JVM's own memory a second time."""
    stats = _tree_stats(root)
    kb = 0
    for pid, f in stats.items():
        parent = stats.get(int(f[1]))
        if parent is None or parent[20] != f[20]:  # field 20: vsize
            kb += _pss_kb(pid)
    return kb / 1024.0


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system, reaped children included) used by the
    process tree under `root`. The guest kernel accounts time stolen by
    the hypervisor separately, so this excludes steal."""
    fields = _tree_stats(os.getpid() if root is None else root).values()
    return sum(int(f[11]) + int(f[12]) + int(f[13]) + int(f[14]) for f in fields) / _TICKS


def steal_share() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return vals[7], sum(vals[:8])


class PeakRss:
    """Background sampler of the process tree's resident memory."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb(pid))
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_mb(os.getpid()))
