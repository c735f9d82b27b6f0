"""Process-tree helpers: summed RSS sampling and orderly shutdown of the
Spark JVM and its Python workers. Linux ``/proc`` only."""

from __future__ import annotations

import os
import signal
import threading
import time


def descendants(pid: int) -> list[int]:
    """Every live descendant of ``pid`` (children of all its threads)."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            tids = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    kids = [int(k) for k in f.read().split()]
            except OSError:
                continue
            out.extend(kids)
            todo.extend(kids)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Background thread tracking the peak summed RSS of this process
    and all its descendants (driver Python, JVM, Python workers)."""

    def __init__(self, period_s: float = 0.2):
        self._period = period_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self.peak_kb = 0

    def _sample(self) -> None:
        me = os.getpid()
        total = sum(_rss_kb(p) for p in [me, *descendants(me)])
        self.peak_kb = max(self.peak_kb, total)

    def _run(self) -> None:
        while not self._stop.wait(self._period):
            self._sample()

    def __enter__(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def stop_spark(spark, timeout_s: float = 30.0) -> None:
    """Stop the session, end the JVM the py4j gateway launched, and wait
    until every process this run started has exited (SIGKILL after
    ``timeout_s``)."""
    from pyspark import SparkContext

    me = os.getpid()
    kids = descendants(me)
    try:
        spark.stop()
    finally:
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None and proc.stdin:
                proc.stdin.close()  # the JVM exits on stdin EOF
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline and _alive(kids):
            _reap()
            time.sleep(0.1)
        for pid in _alive(kids):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        while _alive(kids) and time.monotonic() < deadline + 5:
            _reap()
            time.sleep(0.1)


def _alive(pids: list[int]) -> list[int]:
    live = []
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as f:
                state = f.read().rsplit(")", 1)[1].split()[0]
        except OSError:
            continue
        if state != "Z":
            live.append(p)
    return live


def _reap() -> None:
    """Collect exited direct children so they do not linger as zombies."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return
