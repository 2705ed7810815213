"""Measurement helpers: the end-to-end timer, percentiles, memory, calibration."""

from __future__ import annotations

import math
import os
import statistics
import time

from pyspark.sql import DataFrame, SparkSession


def materialize(df: DataFrame) -> None:
    """Produce every row and column of ``df`` and discard them.

    A ``noop`` sink runs the whole physical plan; ``.count()`` would let
    Catalyst prune columns and the operators that only feed them.
    """
    df.write.format("noop").mode("overwrite").save()


def tail_percentile(values: list[float], q: float, min_beyond: int = 10) -> float | None:
    """Nearest-rank ``q`` percentile, or None when fewer than ``min_beyond``
    samples lie beyond it (a tail percentile needs samples past it to mean
    anything)."""
    n = len(values)
    rank = math.ceil(q * n)
    if n == 0 or n - rank < min_beyond:
        return None
    return sorted(values)[rank - 1]


def median(values: list[float]) -> float | None:
    return statistics.median(values) if values else None


def _status_kb(pid: int, field: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    raise KeyError(field)


def reset_peak_rss(pids: list[int]) -> bool:
    """Restart the kernel's peak-RSS record (``VmHWM``) at the current RSS,
    so the peak read later covers only what follows. False where the
    kernel refuses; the peak then covers the process lifetime."""
    try:
        for pid in pids:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
    except OSError:
        return False
    return True


def peak_rss_mb(pids: list[int]) -> float:
    return sum(_status_kb(pid, "VmHWM") for pid in pids) / 1024.0


def jvm_pid(spark: SparkSession) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def calibrate(spark: SparkSession, reps: int = 3) -> float:
    """Median wall time of a fixed CPU-bound Spark job (no I/O, no shuffle):
    a yardstick for how fast the machine ran, compared between the start
    and the end of the timed run."""
    times = []
    for _ in range(reps + 1):  # the first run pays JIT warm-up; dropped
        t0 = time.perf_counter()
        spark.range(20_000_000).selectExpr("sum(id * 2654435761 % 1000) AS s").collect()
        times.append(time.perf_counter() - t0)
    return statistics.median(times[1:])


def nproc() -> int:
    """Cores this process may run on, as ``nproc`` reports them."""
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


def cpu_count(environ: dict[str, str] | None = None) -> int:
    """Cores to run on: ``SPARK_GRAFT_CPUS`` when it is a positive integer,
    else ``nproc``. A malformed value falls back instead of raising."""
    environ = os.environ if environ is None else environ
    try:
        cpus = int(environ.get("SPARK_GRAFT_CPUS", "").strip())
    except ValueError:
        return nproc()
    return cpus if cpus > 0 else nproc()
