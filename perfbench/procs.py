"""Processes this benchmark starts: finding them, measuring their memory,
and stopping them.

A Spark session in PySpark runs a gateway JVM, which forks the Python
workers; ``stop_spark`` ends all of them, so the next session starts a
fresh JVM.
"""

from __future__ import annotations

import os
import signal
import threading
import time


def descendants(include_self: bool = False) -> list[int]:
    """PIDs of every live descendant of this process, from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # process ended while being read
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out if include_self else out[1:]


class MemorySampler(threading.Thread):
    """Peak memory of this process and all its descendants (the JVM and
    the Python workers it forks), sampled from /proc. Each process counts
    its proportional set size, so pages shared between forked workers are
    counted once in total."""

    def __init__(self, period_s: float = 0.2):
        super().__init__(daemon=True)
        self.period_s = period_s
        self.peak_bytes = 0
        self._stop_evt = threading.Event()

    @staticmethod
    def tree_pss() -> int:
        total = 0
        for pid in descendants(include_self=True):
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                continue  # process ended while being read
        return total

    def run(self) -> None:
        while not self._stop_evt.wait(self.period_s):
            self.peak_bytes = max(self.peak_bytes, self.tree_pss())

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait until the JVM and
    every process it started (the Python workers) have exited."""
    from pyspark import SparkContext

    started = descendants()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 30
    while started and time.time() < deadline:
        started = [p for p in started if os.path.exists(f"/proc/{p}") and not _reap(p)]
        time.sleep(0.1)
    for pid in started:  # still running after 30 s
        os.kill(pid, signal.SIGKILL)
        _reap(pid)


def _reap(pid: int) -> bool:
    """Collect ``pid`` if it is an exited child of this process."""
    try:
        return os.waitpid(pid, os.WNOHANG)[0] == pid
    except ChildProcessError:
        return False
