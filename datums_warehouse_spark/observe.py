"""How long a query takes: the one timed pass every harness runs.

bench.py, scripts/stress.py and scripts/corescale.py all time queries
through ``timed_pass``, so their numbers measure the same thing: the
whole query, from building its DataFrame to its last output row.
"""

from __future__ import annotations

from time import perf_counter
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from datums_warehouse_spark.llm.dedup import release_caches


def materialize(df: DataFrame) -> None:
    """Produce every row and column of ``df`` and discard them.

    A ``noop`` sink runs the whole physical plan; ``.count()`` would let
    Catalyst prune columns and the operators that only feed them.
    """
    df.write.format("noop").mode("overwrite").save()


def timed_pass(
    spark: SparkSession,
    fn: Callable[[SparkSession, str], DataFrame],
    sf_dir: str,
) -> float:
    """Seconds from calling ``fn(spark, sf_dir)`` to its last row.

    The timer covers construction (eager queries run work there) and the
    whole plan. The dedup index is released first, outside the timer: a
    dedup query then pays for its own shingle → signature → verify build
    instead of scanning pairs an earlier pass cached, and the unpersist
    itself is harness bookkeeping, not query work.
    """
    release_caches()
    t0 = perf_counter()
    materialize(fn(spark, sf_dir))
    return perf_counter() - t0
