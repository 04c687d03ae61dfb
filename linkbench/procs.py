"""This process's tree, read from /proc: peak resident memory of the
driver, its JVM and the JVM's Python workers, and a wait for all of
them to end."""

from __future__ import annotations

import os
import signal
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:  # process ended while listing
            continue
        # state and ppid follow the parenthesised command name; a
        # zombie has ended and holds no memory
        state, ppid = stat.rsplit(")", 1)[1].split()[:2]
        if state != "Z":
            children.setdefault(int(ppid), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for kid in children.get(todo.pop(), ()):
            out.append(kid)
            todo.append(kid)
    return out


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * PAGE
        except OSError:
            continue
    return total


class PeakRss:
    """Samples the tree's summed RSS every ``period`` seconds on a
    daemon thread; ``stop()`` returns the peak in MB."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak = 0
        self._halt = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def _loop(self) -> None:
        me = os.getpid()
        while not self._halt.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._halt.wait(self.period)

    def stop(self) -> float:
        self._halt.set()
        self._thread.join(timeout=5)
        return self.peak / (1024.0 * 1024.0)


def wait_tree_gone(timeout: float = 20.0) -> None:
    """Wait for every descendant to exit; kill what outlives ``timeout``."""
    me = os.getpid()
    deadline = time.time() + timeout
    while descendants(me) and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants(me):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.time() + 5
    while descendants(me) and time.time() < deadline:
        time.sleep(0.1)
