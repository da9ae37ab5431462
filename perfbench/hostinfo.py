"""Host-side measurement helpers: CPU-busy sample, the pinned Spark canary,
peak-RSS and CPU-time sampling of the Spark process tree, and orderly Spark
shutdown.

Only ``RssSampler``'s peak and ``tree_cpu_seconds`` feed benchmark metrics;
the rest is the host-noise record written beside every run.
"""

from __future__ import annotations

import os
import subprocess
import threading
import time

PAGE_BYTES = os.sysconf("SC_PAGE_SIZE")
CLK_TCK = os.sysconf("SC_CLK_TCK")


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of ``/proc/stat``, in ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def cpu_fractions(before: list[int], after: list[int]) -> dict[str, float]:
    """Busy (non-idle, non-iowait) and hypervisor-steal shares of the CPU
    time between two ``cpu_times`` snapshots (busy: same formula as
    bench.py)."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    return {"busy": 1.0 - (d[3] + d[4]) / total, "steal": d[7] / total if len(d) > 7 else 0.0}


def cpu_busy_fraction(sample_sec: float = 0.5) -> float:
    """Busy share over ``sample_sec``: whether other load shared the host
    while this run started."""
    t0 = cpu_times()
    time.sleep(sample_sec)
    return cpu_fractions(t0, cpu_times())["busy"]


def host_canary(spark) -> float:
    """bench.py's pinned canary job (range scan -> hash agg -> shuffle ->
    agg), one trial, in seconds.  Its expected bands are in BASELINE.md."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    (
        spark.range(0, 480_000_000, 1, 64)
        .select(
            ((F.col("id") * 2654435761) % 9973).alias("k"),
            (((F.col("id") % 1048573) * 2654435761) % 1000003).alias("v"),
        )
        .groupBy("k")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"), F.max("v").alias("m"))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    return time.perf_counter() - t0


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes(root: int | None = None) -> int:
    """Summed resident set of every descendant of ``root`` (default: this
    process) — the driver JVM and its Python worker daemons."""
    total = 0
    for pid in _descendants(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * PAGE_BYTES
        except OSError:
            continue  # exited between listing and reading
    return total


def tree_cpu_seconds(root: int | None = None) -> float:
    """CPU seconds (user + system) used so far by ``root`` (default: this
    process) and every live descendant, counting children they have
    already reaped.  Hypervisor steal is not charged to a process."""
    total = 0
    root = root or os.getpid()
    for pid in [root, *_descendants(root)]:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited between listing and reading
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / CLK_TCK


class RssSampler:
    """Background thread recording the peak of ``tree_rss_bytes``."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes())
            self._stop.wait(self.interval)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes())


def shutdown_spark(spark) -> None:
    """Stop the SparkContext, then the JVM it runs in, and wait for it to
    exit so the benchmark leaves no process behind."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
