"""CPU time and resident memory of this process and all its descendants.

The JVM is a child of the benchmark process and every Python
worker is a descendant of the JVM, so one walk of /proc from our own pid
covers the whole Spark application. Spark's own executorCpuTime leaves
the Python workers out, and they do most of the task time.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, tuple[int, int, int]]:
    """pid -> (ppid, cpu ticks incl. reaped children, rss pages)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                raw = f.read()
        except OSError:
            continue  # exited while we listed
        # the command name is parenthesised and may contain spaces
        f = raw[raw.rfind(b")") + 2:].split()
        out[int(name)] = (int(f[1]), sum(int(x) for x in f[11:15]), int(f[21]))
    return out


def tree(root: int | None = None) -> dict[int, tuple[int, int, int]]:
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    todo = [root or os.getpid()]
    out = {}
    while todo:
        pid = todo.pop()
        if pid in table:
            out[pid] = table[pid]
            todo.extend(kids.get(pid, ()))
    return out


def cpu_seconds() -> float:
    """user+system CPU of the live tree; a process that exited and was
    reaped inside the tree is counted in its parent's cutime/cstime."""
    return sum(v[1] for v in tree().values()) / _TICK


def jit_cpu_seconds() -> float:
    """CPU of the JIT compiler threads ("C1/C2 CompilerThread<n>") of the
    JVMs in the tree: compiling is warm-up that keeps shrinking over the
    first dozens of calls, not work a call does, and it is the noisiest
    part of the tree's CPU."""
    ticks = 0
    for pid in tree():
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() != "java":
                    continue
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat", "rb") as f:
                    raw = f.read()
            except OSError:
                continue
            if b"CompilerThre" in raw[:raw.rfind(b")")]:
                fields = raw[raw.rfind(b")") + 2:].split()
                ticks += int(fields[11]) + int(fields[12])
    return ticks / _TICK


def rss_mb() -> float:
    return sum(v[2] for v in tree().values()) * _PAGE / 2**20


def descendants() -> list[int]:
    return [p for p in tree() if p != os.getpid()]


class RssPeak:
    """Samples the tree's summed RSS every 50 ms on a thread while the
    block runs."""

    INTERVAL_S = 0.05

    def __init__(self):
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, rss_mb())
            if self._stop.wait(self.INTERVAL_S):
                return

    def __enter__(self) -> "RssPeak":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, rss_mb())
