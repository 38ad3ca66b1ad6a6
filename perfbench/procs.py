"""Summed resident memory of a whole process tree: the benchmark's Python
process, the JVM it launched and the pyspark daemon and workers the JVM
forks (Linux ``/proc``).

Python processes count by PSS (each resident page divided among the
processes that map it), so the pages forked pyspark workers share with
their daemon count once. The JVM counts by RSS, which is cheap to read and
equal to its PSS, and the short-lived children it forks to run shell
commands are skipped: until they exec, each one maps the JVM's whole 1 GB+
image, and counting it swung the peak by 80% between identical runs.
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
INTERVAL_S = 0.1


def _read(path: str) -> str:
    with open(path) as f:
        return f.read()


def _parents() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                out[int(name)] = int(_read(f"/proc/{name}/stat").rsplit(")", 1)[1].split()[1])
            except OSError:  # exited while listing
                continue
    return out


def _pss_bytes(pid: int) -> int:
    for line in _read(f"/proc/{pid}/smaps_rollup").splitlines():
        if line.startswith("Pss:"):
            return int(line.split()[1]) * 1024
    return 0


def tree_memory() -> dict[str, int]:
    """Resident bytes per command name over this process and its
    descendants."""
    parent = _parents()
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    comm: dict[int, str] = {}
    out: dict[str, int] = {}
    todo = [os.getpid()]
    while todo:
        pid = todo.pop()
        try:
            comm[pid] = _read(f"/proc/{pid}/comm").strip()
            if comm[pid] == "java":
                size = int(_read(f"/proc/{pid}/statm").split()[1]) * _PAGE
            elif comm.get(parent.get(pid)) == "java" and not comm[pid].startswith("python"):
                continue  # a fork-exec helper of the JVM
            else:
                size = _pss_bytes(pid)
        except OSError:  # exited meanwhile
            continue
        out[comm[pid]] = out.get(comm[pid], 0) + size
        todo.extend(children.get(pid, ()))
    return out


class TreeMemorySampler:
    """Background thread keeping the peak of the summed :func:`tree_memory`
    of this process's tree, every ``INTERVAL_S``, and the per-command split
    at that peak."""

    def __init__(self):
        self.peak = 0
        self.peak_split: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            split = tree_memory()
            if sum(split.values()) > self.peak:
                self.peak, self.peak_split = sum(split.values()), split
            if self._stop.wait(INTERVAL_S):
                return

    def __enter__(self) -> TreeMemorySampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
