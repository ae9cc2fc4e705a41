"""Host-side measurements read from /proc: CPU shares of the whole host,
and the resident memory of this process tree (the Python driver, the
Spark JVM it launched and the JVM's Python workers)."""

from __future__ import annotations

import os
import threading
import time

def cpu_sample() -> tuple[float, ...]:
    """(user, nice, system, idle, iowait, irq, softirq, steal) jiffies."""
    with open("/proc/stat") as fh:
        return tuple(float(x) for x in fh.readline().split()[1:9])


def cpu_shares(before: tuple, after: tuple) -> dict:
    """sys% and steal% of all host CPU time between two samples."""
    d = [a - b for a, b in zip(after, before)]
    total = sum(d) or 1.0
    return {"sys_pct": round(100.0 * d[2] / total, 2),
            "steal_pct": round(100.0 * d[7] / total, 2),
            "user_pct": round(100.0 * (d[0] + d[1]) / total, 2)}


def _stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may hold spaces: split after the closing parenthesis
    head, _, rest = raw.rpartition(")")
    return [head.split("(", 1)[1]] + rest.split()


def process_tree(root: int) -> list[tuple[int, list[str]]]:
    """(pid, stat fields) of ``root`` and all its descendants."""
    stats = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(name)
        if st is None:
            continue
        pid, ppid = int(name), int(st[2])
        stats[pid] = st
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append((pid, stats[pid]))
        todo.extend(children.get(pid, []))
    return out


def tree_rss_mb(root: int) -> float:
    page = os.sysconf("SC_PAGE_SIZE")
    # field 24 of /proc/pid/stat is rss in pages (index 22 after comm split)
    return sum(int(st[22]) for _, st in process_tree(root)) * page / 2**20


class RssSampler:
    """Samples the process tree's resident memory every ``period`` seconds
    on a daemon thread; ``peak_mb`` is the largest sum seen."""

    def __init__(self, root: int, period: float = 0.5):
        self.root = root
        self.period = period
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))


def now_ms() -> float:
    return time.time() * 1000.0
