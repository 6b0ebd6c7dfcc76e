"""Peak resident memory of a process tree, sampled from ``/proc``.

The tree is rooted at the benchmark's own process, so it covers the
Python driver, the JVM that pyspark launches and the Python worker
processes the JVM forks.
"""

from __future__ import annotations

import os
import threading

PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited while listing
            continue
        # the command name may hold spaces; fields after it are fixed
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    return children


def process_tree(root: int) -> list[tuple[int, int | None]]:
    """(pid, parent pid) of ``root`` and every live descendant of it."""
    children = _children()
    tree, todo = [], [(root, None)]
    while todo:
        pid, parent = todo.pop()
        tree.append((pid, parent))
        todo.extend((c, pid) for c in children.get(pid, []))
    return tree


def tree_rss_bytes(root: int) -> int:
    statm = {}
    for pid, _ in (tree := process_tree(root)):
        try:
            with open(f"/proc/{pid}/statm") as f:
                statm[pid] = tuple(f.read().split()[:2])
        except OSError:
            continue
    # a child the JVM spawns shares the JVM's memory until it execs
    # (posix_spawn); it reads the same size and RSS, so count it once
    return PAGE * sum(
        int(m[1]) for pid, parent in tree
        if (m := statm.get(pid)) is not None and statm.get(parent) != m
    )


class RssSampler:
    """Samples the tree's summed RSS in one background thread."""

    def __init__(self, root: int, interval_s: float = 0.2):
        self.root = root
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss", daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(self.root))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20
