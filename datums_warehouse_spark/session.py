"""SparkSession factory tuned for the local test harness.

The engine itself is scale-agnostic: the same plans run on a 1000-executor
cluster. These configs only pin the local-mode knobs (shuffle partition
count, Arrow transfers, UTC session time) so results are deterministic and
comparable with the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = "/root/testdata/sf0.1"


def sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)


def cpus() -> int:
    """Cores for the local master: ``$SPARK_GRAFT_CPUS``, or the machine's
    core count when that is unset or not a positive integer."""
    try:
        n = int(os.environ["SPARK_GRAFT_CPUS"])
    except (KeyError, ValueError):
        n = 0
    return n if n > 0 else os.cpu_count() or 8


def get_spark(app_name: str = "datums-warehouse-spark") -> SparkSession:
    """Build (or reuse) a SparkSession.

    - AQE on: runtime coalescing + skew-join handling — the same settings we
      would ship at cluster scale.
    - ``spark.sql.shuffle.partitions`` starts at max(8, cores) locally; AQE
      coalesces down. On a real cluster this would be sized to data volume.
    - Session timezone pinned to UTC so timestamp semantics match the DuckDB
      oracle (naive timestamps throughout the testdata).
    """
    n = cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{n}]"))
        .config("spark.sql.shuffle.partitions", str(max(8, n)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


class scoped_conf:
    """Temporarily set session confs, restoring priors on exit — for a
    write-time knob (s12's stats-bearing timestamp encoding) or a
    ``spark.sql.shuffle.partitions`` clamp on stages orders of magnitude
    smaller than the session's sizing assumes (label-propagation rounds,
    test-scale stream state stores), without leaking either into the
    caller's session. AQE coalescing makes a clamp a no-op for large
    stages. Keys name the conf, so pass them as ``**{"spark.sql...": v}``.
    """

    def __init__(self, spark: SparkSession, **confs: str):
        self.spark, self.confs = spark, confs

    def __enter__(self):
        self.prev = {k: self.spark.conf.get(k) for k in self.confs}
        for k, v in self.confs.items():
            self.spark.conf.set(k, v)
        return self

    def __exit__(self, *exc):
        for k, v in self.prev.items():
            self.spark.conf.set(k, v)
