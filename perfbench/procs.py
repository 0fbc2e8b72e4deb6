"""Process bookkeeping: peak memory of the Spark processes and a clean stop.

The driver JVM is a child of this process and the Python workers
(``pyspark.daemon`` and its forks) are descendants of the JVM. Worker
memory is read from ``/proc/<pid>/status`` ``VmHWM`` (the per-process
resident high-water mark). Other descendants of the JVM are short-lived
helper commands (Hadoop's local file system shells out for permissions);
before their exec they report the JVM's own memory, so they are not
counted.

The JVM's memory is its heap in use right after each collection, read
from its ``-Xlog:gc`` log, not its resident size: G1 grows the heap by
its own pause-time and GC-overhead heuristics, so the JVM's resident size
follows host speed (it varied by a quarter between seeds at one corpus
size) more than what the program keeps alive.
"""

from __future__ import annotations

import os
import re
import signal
import subprocess
import threading
import time


def _ppid_map() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for pid, ppid in _ppid_map().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark.daemon" in f.read()
    except OSError:
        return False


class PeakRss:
    """Samples VmHWM of the JVM's live Python workers every ``interval`` s
    and keeps the largest sum; ``peak_mb`` is it in MiB."""

    def __init__(self, jvm_pid: int, interval: float = 0.25):
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.peak_kb = 0
        self.per_pid = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def sample(self) -> None:
        pids = [p for p in descendants(self.jvm_pid) if _is_python_worker(p)]
        hw = {p: _hwm_kb(p) for p in pids}
        for p, v in hw.items():
            self.per_pid[p] = max(self.per_pid.get(p, 0), v)
        self.peak_kb = max(self.peak_kb, sum(hw.values()))

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# a G1 pause line ends in "<before>-><after>(<committed>) <pause>ms"
_GC_PAUSE = re.compile(r"(\d+)([KMG])->(\d+)([KMG])\(\d+[KMG]\)")
_TO_MB = {"K": 1 / 1024, "M": 1, "G": 1024}


def heap_after_gc_peak_mb(gc_log: str) -> float:
    """Largest heap occupancy right after a collection in a ``-Xlog:gc``
    log, in MiB (0 if no collection ran)."""
    peak = 0.0
    with open(gc_log) as f:
        for line in f:
            m = _GC_PAUSE.search(line)
            if m:
                peak = max(peak, int(m.group(3)) * _TO_MB[m.group(4)])
    return peak


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, then the gateway JVM, and wait until every
    descendant process has exited (SIGKILL after ``timeout``)."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            # the JVM exits when its stdin pipe closes
            proc.stdin.close()
            try:
                proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + timeout
    while descendants() and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while descendants():
        time.sleep(0.1)
