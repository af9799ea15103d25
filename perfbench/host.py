"""Host record, calibration kernels and the process-tree RSS sampler."""

from __future__ import annotations

import os
import threading
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def _cpu_kernel(_):
    """Pure-Python integer loop: interpreter speed of one core."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_500_000):
        acc = (acc + i * i) & 0xFFFFFFFF
    yield time.perf_counter() - t0


def _mem_kernel(_):
    """Copies a 64 MiB buffer eight times: memory bandwidth of one core."""
    import numpy as np

    src = np.ones(8 * 1024 * 1024, dtype=np.float64)
    dst = np.empty_like(src)
    t0 = time.perf_counter()
    for _ in range(8):
        np.copyto(dst, src)
    dt = time.perf_counter() - t0
    yield 2 * 8 * src.nbytes / dt / 1e9


def calibrate(spark, n: int) -> dict:
    """Both kernels once per task slot, run as Spark tasks so no process
    beyond the session's own ``n`` workers is started."""
    sc = spark.sparkContext
    cpu = sorted(sc.parallelize(range(n), n).mapPartitions(_cpu_kernel).collect())
    mem = sorted(sc.parallelize(range(n), n).mapPartitions(_mem_kernel).collect())
    return {
        "cpu_kernel_s": cpu[len(cpu) // 2],
        "mem_kernel_gbps": mem[len(mem) // 2],
    }


def host_record(spark) -> dict:
    import pandas
    import pyarrow
    import pyspark

    sc = spark.sparkContext
    return {
        "nproc": nproc(),
        "mem_total_mb": round(mem_total_mb(), 1),
        "spark_master": sc.master,
        "spark_driver_memory": sc.getConf().get("spark.driver.memory", "1g"),
        "jvm_max_heap_mb": round(
            sc._jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20, 1
        ),
        "spark": pyspark.__version__,
        "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__,
    }


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out += [int(c) for c in fh.read().split()]
    except (FileNotFoundError, ProcessLookupError):
        pass
    return out


def tree_rss_mb(root: int) -> float:
    """Resident set of ``root`` and all its descendants."""
    total, todo = 0, [root]
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except (FileNotFoundError, ProcessLookupError):
            continue
        todo += _children(pid)
    return total / 2**20


class RssSampler:
    """Samples the Spark JVM's process tree (JVM plus Python workers)
    every ``period`` seconds on one thread; ``peak_mb`` is the maximum."""

    def __init__(self, root_pid: int, period: float = 0.1):
        self.root = root_pid
        self.period = period
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))
