"""Process-tree helpers read straight from /proc (no psutil).

``RssSampler`` polls the resident set of this process and every
descendant (the driver JVM and the Python workers it forks) and keeps
the peak of their sum while it is armed.  ``stop_spark`` stops the
session, closes the JVM gateway and waits until every process of the
tree has exited.
"""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (field 3 first)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    return s[s.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """Live descendants of ``root`` (zombies excluded)."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is None or st[0] == "Z":
            continue
        kids.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes(root: int) -> int:
    """Summed RSS of ``root`` and its descendants.

    A child the JVM has vfork()ed to spawn a process shares the JVM's
    memory until it execs and reports the same (vsize, rss): it is
    skipped, or the JVM would be counted twice for that instant.
    """
    by_pid = {pid: _stat(pid) for pid in [root, *descendants(root)]}
    total = 0
    for st in by_pid.values():
        if st is None:
            continue
        parent = by_pid.get(int(st[1]))
        if parent is not None and parent[20:22] == st[20:22]:
            continue
        total += int(st[21]) * _PAGE
    return total


class RssSampler:
    """Background poller of the process tree's summed RSS.

    Samples are kept only while ``armed``; ``peak_mb`` is the highest
    sum seen.  Use as a context manager so the thread always ends.
    """

    def __init__(self, interval_s: float = 0.05):
        self.interval_s = interval_s
        self.armed = False
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.wait(self.interval_s):
            if self.armed:
                self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(root))

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def _alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] != "Z"


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session and wait for the JVM and its Python workers.

    The JVM exits when its stdin closes; its forked workers follow when
    their pipes to it break.  Anything still alive at the deadline is
    killed, and waited for again.
    """
    from pyspark import SparkContext

    tree = descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    while any(_alive(p) for p in tree) and time.monotonic() < deadline:
        time.sleep(0.05)
    for p in tree:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
    while any(_alive(p) for p in tree) and time.monotonic() < deadline + 10:
        time.sleep(0.05)
