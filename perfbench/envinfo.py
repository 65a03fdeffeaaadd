"""Environment stamps and process-tree memory sampling (Linux /proc)."""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs from the first /proc/stat line."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def steal_pct(start: tuple[int, int], end: tuple[int, int]) -> float:
    d_total = end[1] - start[1]
    return 100.0 * (end[0] - start[0]) / d_total if d_total > 0 else 0.0


def child_pids(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            out.append(int(entry))
    return out


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


class RssSampler:
    """Peak of (this process + its direct children) RSS since the last
    :meth:`reset`, sampled on a background thread.  The Spark JVM is this
    process's child; its Python workers are the JVM's children and are not
    counted."""

    def __init__(self, period_s: float = 0.02):
        self._period = period_s
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread: threading.Thread | None = None
        self._peak = 0

    def _run(self) -> None:
        me = os.getpid()
        kids = child_pids(me)
        while True:
            rss = rss_bytes(me) + sum(rss_bytes(p) for p in kids)
            with self._lock:
                self._peak = max(self._peak, rss)
            if self._stop.wait(self._period):
                return

    def reset(self) -> None:
        with self._lock:
            self._peak = 0

    @property
    def peak(self) -> int:
        with self._lock:
            return self._peak

    def __enter__(self) -> "RssSampler":
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def spark_stamp(spark) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "spark_version": spark.version,
        "java_version": str(jvm.System.getProperty("java.version")),
        "driver_heap_mb": round(jvm.Runtime.getRuntime().maxMemory() / 2**20, 1),
        "driver_memory_conf": spark.conf.get("spark.driver.memory"),
    }
