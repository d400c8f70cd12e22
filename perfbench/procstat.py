"""CPU time and resident memory of this process and all its descendants
(the Spark JVM and its Python workers), read from ``/proc``."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def tree(root: int | None = None) -> list[int]:
    """Pids of ``root`` (default: this process) and every live descendant."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(pids: list[int] | None = None) -> float:
    """User + system CPU of the tree, including reaped children (a Python
    worker that exited was waited for by its parent, whose cutime/cstime
    then holds its CPU)."""
    total = 0
    for pid in tree() if pids is None else pids:
        st = _stat(pid)
        if st is not None:
            # fields 14-17 of stat: utime stime cutime cstime (1-based)
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def pss_bytes(pids: list[int] | None = None) -> int:
    """Resident memory of the tree as summed PSS: pages shared between
    processes (Python workers forked from one daemon) count once, split
    between the sharers, so the figure does not move with how many idle
    workers happen to be alive."""
    total = 0
    for pid in tree() if pids is None else pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class PeakRss:
    """Samples the tree's resident memory every ``interval`` seconds on a
    background thread and keeps the maximum."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, pss_bytes())
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, pss_bytes())
