"""Host-side measurements: process-tree resident memory and CPU steal.

Both read /proc directly, so they cost no Spark work and see the JVM and
its Python workers as the kernel does. Resident memory is summed as PSS
(proportional set size): the Python workers are forked from one daemon
and share most of their pages, which a plain RSS sum would count once
per worker.
"""

from __future__ import annotations

import os
import threading


def _children_map() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:  # exited between listdir and open
            continue
        # the command name may hold spaces: ppid is the 2nd field after ")"
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    return children


def process_tree(root: int) -> list[int]:
    """root and every live descendant of it."""
    children = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_pss_bytes(root: int) -> int:
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:  # exited while being read
            continue
    return total


class MemorySampler:
    """Samples the resident memory (PSS) of a process tree on a background
    thread while `active` is set; `peak` is the largest sum seen."""

    def __init__(self, root: int, interval_s: float = 0.2) -> None:
        self.root = root
        self.interval_s = interval_s
        self.peak = 0
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            if self.active.is_set():
                self.peak = max(self.peak, tree_pss_bytes(self.root))

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies since boot, from the aggregate cpu line."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already counted inside user/nice
    steal = fields[7] if len(fields) > 7 else 0
    return steal, sum(fields[:8])


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / total if total > 0 else 0.0
