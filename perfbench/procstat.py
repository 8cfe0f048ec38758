"""Host and process-tree readings from ``/proc``.

The benchmark's process tree is this Python process, the Spark JVM it
launches and the JVM's Python workers.  CPU time is read per process
including reaped children (``cutime``/``cstime``), so a Python worker
that exits mid-cycle keeps its seconds in its parent's count.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return None
    # the command name may hold spaces: split after its closing paren
    return data[data.rindex(")") + 2:].split()


def tree_pids() -> list[int]:
    """This process and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def is_live(pid: int) -> bool:
    """The process exists and is not a zombie."""
    f = _stat_fields(pid)
    return f is not None and f[0] != "Z"


def tree_cpu_s() -> float:
    """User + system seconds of the tree, reaped children included."""
    total = 0
    for pid in tree_pids():
        f = _stat_fields(pid)
        if f is not None:
            # fields 14-17 of stat(5): utime stime cutime cstime
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def tree_rss_mb() -> float:
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return total * _PAGE / 2**20


def host_cpu() -> tuple[int, int]:
    """(total jiffies, steal jiffies) of the host since boot."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]:
    # guest time is already inside user/nice
    return sum(vals[:8]), vals[7] if len(vals) > 7 else 0


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[0] - before[0]
    return 100.0 * (after[1] - before[1]) / total if total > 0 else 0.0


class RssPeak:
    """Samples the tree's resident memory on a background thread and
    keeps the peak.  Use as a context manager; the thread is joined on
    exit."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "RssPeak":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_rss_mb())
