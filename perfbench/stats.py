"""Percentiles, memory and machine facts shared by both workloads."""

from __future__ import annotations

import math
import os
import platform
import statistics
import time


def median(xs) -> float | None:
    xs = list(xs)
    return statistics.median(xs) if xs else None


def tail(xs, p: float, min_beyond: int = 10) -> float | None:
    """Nearest-rank ``p``-th percentile, or None unless at least
    ``min_beyond`` samples lie strictly above its rank."""
    xs = sorted(xs)
    if not xs:
        return None
    rank = max(math.ceil(p / 100.0 * len(xs)), 1)
    if len(xs) - rank < min_beyond:
        return None
    return xs[rank - 1]


#: seconds one canary job takes on the reference machine (4 vCPUs,
#: warm JVM); calibrated times read "as if on that machine"
CANARY_REF_S = 0.1


def canary_s(spark, reps: int = 5) -> list[float]:
    """Wall seconds of a fixed all-core Spark job (hash-sum over 20 M
    generated rows), ``reps`` times: the machine's current speed, from
    the same JVM the workload runs in but independent of the package."""
    n = spark.sparkContext.defaultParallelism
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        spark.range(0, 20_000_000, 1, n).selectExpr(
            "sum(hash(id))").collect()
        out.append(time.perf_counter() - t0)
    return out


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MiB, from /proc."""
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def peak_rss_mb(spark) -> float:
    """Driver JVM plus this Python process."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return vm_hwm_mb(jvm_pid) + vm_hwm_mb()


def machine(spark, seed: int, workload: str) -> dict:
    with open("/proc/meminfo", encoding="ascii") as fh:
        mem_kb = int(next(x for x in fh
                          if x.startswith("MemTotal:")).split()[1])
    conf = spark.sparkContext.getConf()
    return {
        "workload": workload,
        "seed": seed,
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 1024 / 1024, 1),
        "python": platform.python_version(),
        "spark": spark.version,
        "master": spark.sparkContext.master,
        "driver_memory": conf.get("spark.driver.memory", ""),
        "driver_java_options": conf.get("spark.driver.extraJavaOptions",
                                        ""),
    }
