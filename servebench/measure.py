"""Statistics and host readings used by run.py."""

from __future__ import annotations

import math
import os
import signal
import statistics
import time


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def percentile(values: list[float], p: float) -> float:
    """Percentile interpolated between the two samples nearest rank
    p/100 * (n - 1) (numpy's default). A client completes only a few
    operations per run, and a nearest-rank percentile of a few samples
    jumps from one sample to the next as the count changes by one."""
    if not values:
        return 0.0
    s = sorted(values)
    k = p / 100 * (len(s) - 1)
    lo = math.floor(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


TAIL_BEYOND = 10  # samples a reported percentile must have above it


def tail_percentile(values: list[float]) -> tuple[float, float] | None:
    """The highest percentile with at least ``TAIL_BEYOND`` samples above
    it, as (percentile, value); None when there are not more samples than
    that.

    With n samples the value at rank r (1-based, ascending) has n - r
    samples above it, so the highest usable rank is n - TAIL_BEYOND, which
    is percentile 100 * (n - TAIL_BEYOND) / n."""
    n = len(values)
    if n <= TAIL_BEYOND:
        return None
    rank = n - TAIL_BEYOND
    return 100.0 * rank / n, sorted(values)[rank - 1]


def cpu_times() -> tuple[int, int]:
    """(total, steal) jiffies of the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = f.readline().split()[1:]
    vals = [int(x) for x in fields]
    return sum(vals[:8]), vals[7] if len(vals) > 7 else 0


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[0] - before[0]
    return 100.0 * (after[1] - before[1]) / total if total > 0 else 0.0


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(x) for x in f.read().split()]
    except OSError:  # process exited while walking
        pass
    return out


def tree_rss_mb(pid: int) -> float:
    """Resident memory of ``pid`` and all its descendants, in MB."""
    total, todo, seen = 0, [pid], set()
    while todo:
        p = todo.pop()
        if p in seen:
            continue
        seen.add(p)
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
        todo += _children(p)
    return total / 1024.0


def descendants(pid: int) -> list[int]:
    """Every descendant of ``pid``, zombies included."""
    out, todo = [], _children(pid)
    while todo:
        p = todo.pop()
        out.append(p)
        todo += _children(p)
    return out


def become_subreaper() -> None:
    """Have orphaned descendants of this process reparented to it.

    PySpark's worker daemon moves itself into a process group of its own,
    so ending the server's process group leaves it running until it notices
    that its JVM is gone. As a subreaper this process still finds it among
    its descendants, and ``stop_descendants`` can end it."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def stop_descendants(timeout: float) -> bool:
    """SIGKILL every descendant of this process and reap it; True once none
    is left, False on timeout."""
    deadline = time.monotonic() + timeout
    while True:
        pids = descendants(os.getpid())
        for p in pids:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        while True:  # reap whatever has ended, ours and adopted orphans
            try:
                if os.waitpid(-1, os.WNOHANG)[0] == 0:
                    break
            except ChildProcessError:
                break
        if not pids:
            return True
        if time.monotonic() >= deadline:
            return False
        time.sleep(0.02)


def driver_memory() -> str:
    """Spark driver heap sized to this host: a quarter of RAM, 1-8 GB."""
    with open("/proc/meminfo") as f:
        kb = int(f.readline().split()[1])
    return f"{max(1, min(8, kb // 2**20 // 4))}g"
