"""Process bookkeeping: peak memory of the engine's processes, and making
sure every process the run started has ended before it exits."""

from __future__ import annotations

import os
import signal
import threading
import time

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; fields resume after ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    kids = _children_map()
    out, todo = [], [os.getpid() if pid is None else pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: pages shared between forked Python workers
    are split between them instead of counted once per process."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


class MemorySampler:
    """Samples the summed proportional set size of this process's
    descendants (the driver JVM and its Python workers) on a background
    thread; ``peak_mb`` is the largest sum seen. Summed RSS would count the
    pages the forked Python workers share once per worker, which made
    single runs read up to 1.6x their neighbours. One sample of a 1 GiB
    JVM costs ~12 ms of CPU and holds the JVM's memory-map lock while it
    reads; every 0.2 s that took ~6% of a core from the measured work."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            total = sum(_pss_bytes(p) for p in descendants())
            self.peak_bytes = max(self.peak_bytes, total)
            self._stop.wait(self.interval_s)

    def __enter__(self) -> MemorySampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / (1024 * 1024)


def stop_engine(spark) -> None:
    """Stop the Spark session, shut the py4j gateway down and wait for the
    JVM (its Python workers are its children and exit with it)."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - any failure to exit ends in a kill
            proc.kill()
            proc.wait(timeout=10)


def reap_all(grace_s: float = 10.0) -> list[int]:
    """Terminate whatever descendants are still alive, wait for them, and
    return the pids that had to be signalled."""
    left = descendants()
    for pid in left:
        try:
            os.kill(pid, signal.SIGTERM)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + grace_s
    while time.monotonic() < deadline:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        if not descendants():
            return left
        time.sleep(0.1)
    for pid in descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    try:
        while os.waitpid(-1, os.WNOHANG)[0] > 0:
            pass
    except ChildProcessError:
        pass
    return left


def cpu_times() -> dict[str, float]:
    """Machine-wide CPU seconds by state from /proc/stat (all cores)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()[1:]
    hz = os.sysconf("SC_CLK_TCK")
    names = ["user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal"]
    return {n: int(v) / hz for n, v in zip(names, fields)}
