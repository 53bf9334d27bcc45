"""Peak resident memory of a process tree, sampled from /proc.

The sampler reads only ``/proc``: it never calls into the program under
test. It sums the proportional set size (PSS) of the benchmark's own
Python process and every descendant (the Spark JVM and its Python
workers) and keeps the highest sum seen while it runs. PSS splits each
shared page among the processes mapping it, so pages the forked Python
workers share with their daemon count once; a plain RSS sum counts them
once per worker and grows with how many idle workers happen to exist.
"""

from __future__ import annotations

import os
import threading


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended between listdir and open
            continue
        # the command name may hold spaces or parentheses: split after it
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    """Process ids of every descendant of ``root``."""
    kids = _children_map()
    out, todo = [], list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:  # the process ended meanwhile
        pass
    return 0


def tree_bytes(root: int) -> int:
    """Summed PSS of ``root`` and all its descendants."""
    return 1024 * sum(_pss_kb(p) for p in [root, *descendants(root)])


class PeakRss:
    """Context manager: samples this process tree's PSS every
    ``interval`` seconds on a background thread; ``peak_mb`` holds the
    highest sum seen."""

    interval = 0.25

    def __init__(self):
        self.root = os.getpid()
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_bytes(self.root))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_bytes(self.root))

    @property
    def peak_mb(self) -> float:
        return self.peak / (1 << 20)
