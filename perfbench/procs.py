"""Process bookkeeping from ``/proc`` (psutil is not available): the
benchmark's descendants (the Spark JVM and its Python workers), their
peak resident memory, and a shutdown that waits until all have exited."""

from __future__ import annotations

import os
import threading
import time


def _ppids() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited while listing
            continue
        # field 4 follows the parenthesised command name
        out[int(name)] = int(stat[stat.rindex(")") + 2:].split()[1])
    return out


def descendants() -> list[int]:
    root = os.getpid()
    children: dict[int, list[int]] = {}
    for pid, ppid in _ppids().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def cpu_seconds() -> float:
    """CPU time (user + system, own and reaped children's) of every
    descendant process, in seconds."""
    total = 0
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:  # exited while summing
            continue
        # utime, stime, cutime, cstime: fields 14-17
        total += sum(map(int, stat[stat.rindex(")") + 2:].split()[11:15]))
    return total / os.sysconf("SC_CLK_TCK")


def steal_seconds() -> float:
    """CPU time the host took from this machine's CPUs (``/proc/stat``
    steal), summed over CPUs, in seconds."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Samples the summed RSS of all descendant processes (JVM + Python
    workers) every ``interval`` seconds while active; ``peak`` in bytes.
    ``cpu_s`` is the CPU time its sampling thread has used, which callers
    measuring this process's CPU time subtract."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self):
        self.peak = max(self.peak, sum(_rss_bytes(p) for p in descendants()))

    def _loop(self):
        while not self._stop.wait(self.interval):
            self.sample()
            self.cpu_s = time.thread_time()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()
        return False


def stop_spark(spark, timeout: float = 60.0):
    """Stop the session, close the JVM gateway and wait until the JVM and
    every Python worker it forked have exited."""
    from pyspark import SparkContext

    pids = set(descendants())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        proc.stdin.close()  # the gateway JVM exits on EOF
        proc.wait(timeout=timeout)
    deadline = time.time() + timeout
    while pids and time.time() < deadline:
        pids = {p for p in pids if os.path.exists(f"/proc/{p}")
                and not _is_zombie(p)}
        if pids:
            time.sleep(0.1)
    if pids:
        raise RuntimeError(f"processes still running after stop: {sorted(pids)}")


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return True
    return stat[stat.rindex(")") + 2] == "Z"
