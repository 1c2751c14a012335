"""Process-tree bookkeeping for the benchmark: peak RSS of the tree (the
Python driver, the Spark JVM and its Python workers) and an orderly stop
of the JVM that waits for every process the run started."""

from __future__ import annotations

import os
import subprocess
import threading
import time


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid is the 2nd field after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def alive(pid: int) -> bool:
    """True while pid runs (a zombie waiting to be reaped has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, ()):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def _is_loadgen(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"loadgen.py" in f.read()
    except OSError:
        return False


def tree_rss(pid: int) -> int:
    """RSS of pid and its descendants, leaving out the load generator."""
    return sum(_rss_bytes(p) for p in [pid, *descendants(pid)]
               if not _is_loadgen(p))


class RssSampler:
    """Samples the RSS of this process's tree every ``period`` seconds on
    a thread; ``stop`` returns the peak in bytes."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss(me))
            if self._stop.wait(self.period):
                return

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> int:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss(os.getpid()))
        return self.peak


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, then end the gateway JVM (it exits when its stdin
    closes) and wait until every process of the tree is gone."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    # taken before the stop: once the JVM exits its children are
    # re-parented and no longer show up as descendants
    started = descendants(os.getpid())
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=timeout)
    deadline = time.time() + timeout
    left = [p for p in started if alive(p)]
    while left and time.time() < deadline:
        time.sleep(0.1)
        left = [p for p in left if alive(p)]
    for p in left:
        try:
            os.kill(p, 9)
        except OSError:
            pass
