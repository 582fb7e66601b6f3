"""CPU time and memory of this process and all its descendants.

The JVM is a child of this Python process and the Python workers are
children of the JVM, so walking ``/proc`` from this process covers the
whole engine. Linux only.

Memory is the proportional set size (PSS) from
``/proc/<pid>/smaps_rollup``: a page shared by n processes counts 1/n in
each, so the pages forked Python workers share with their daemon are
counted once however many workers are alive. Summed RSS would count
them once per worker.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids.setdefault(int(fields[1]), []).append(int(entry))
    return kids


def tree(root: int | None = None) -> list[int]:
    root = root or os.getpid()
    kids, out, todo = _children(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def cpu_s(pids: list[int]) -> float:
    """User + system CPU seconds of ``pids``, including their reaped children."""
    total = 0
    for pid in pids:
        f = _stat(pid)
        if f:
            total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / _TICK


def parse_pss_kb(smaps_rollup: str) -> int:
    """The ``Pss:`` field of a ``smaps_rollup`` text, in kB (0 if absent)."""
    for line in smaps_rollup.splitlines():
        if line.startswith("Pss:"):
            return int(line.split()[1])
    return 0


def pss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                total += parse_pss_kb(f.read())
        except OSError:  # the process ended between listing and reading
            continue
    return total / 1024.0


class PeakMemory:
    """Samples the tree's summed PSS on a thread; ``peak_mb`` is the maximum."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pids, n = tree(), 0
        while not self._stop.is_set():
            if n % 10 == 0:  # new Python workers appear as tasks start
                pids = tree()
            n += 1
            self.peak_mb = max(self.peak_mb, pss_mb(pids))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
