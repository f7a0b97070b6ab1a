"""Facts about the host a run measured on, and its peak memory."""

from __future__ import annotations

import os
import platform
import resource
import time

# Rows hashed per core by the calibration job: about 0.25 s per pass on
# one core of a current x86 server, so a pass takes about that long at
# any core count when the host is idle.
CALIB_ROWS_PER_CORE = 40_000_000


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def cpu_ticks() -> list[int]:
    """The host-wide CPU tick counters of /proc/stat (user, nice, system,
    idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(start: list[int], end: list[int]) -> float:
    """Share of CPU time taken by the hypervisor between two `cpu_ticks`
    readings: a host slowed by its neighbours shows here, not in loadavg."""
    d = [b - a for a, b in zip(start, end)]
    total = sum(d[:8])
    return 100.0 * d[7] / total if total else 0.0


def spark_facts(spark) -> dict:
    sc = spark.sparkContext
    return {
        "master": sc.master,
        "defaultParallelism": sc.defaultParallelism,
        "spark_version": spark.version,
        "java_version": spark._jvm.java.lang.System.getProperty("java.version"),
    }


def static_facts() -> dict:
    return {
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "python_version": platform.python_version(),
        "platform": platform.platform(),
    }


def calibrate(spark) -> float:
    """Seconds for a fixed CPU-bound Spark job sized from the core count:
    hash-fold `CALIB_ROWS_PER_CORE * nproc` rows, one partition per core.
    A warm pass first, then the faster of two timed passes."""
    from pyspark.sql import functions as F

    cores = nproc()

    def run() -> None:
        (
            spark.range(0, CALIB_ROWS_PER_CORE * cores, 1, cores)
            .select(F.xxhash64("id").alias("h"))
            .agg(F.sum(F.col("h") % 1024).alias("s"))
            .write.mode("overwrite")
            .format("noop")
            .save()
        )

    run()
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        run()
        best = min(best, time.perf_counter() - t0)
    return best


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int | None) -> tuple[float, float]:
    """Peak resident memory (MB) of this Python process and of the Spark JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = _vm_hwm_kb(jvm_pid) if jvm_pid else 0
    return py_kb / 1024.0, jvm_kb / 1024.0


def process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22 of stat, counted after "comm)"
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")
